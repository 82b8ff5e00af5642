"""The incremental ingest loop (pipeline/ingest.py): multi-batch
corpus-level dedup via the persistent catalogs, resume idempotence,
the crash-recovery ledger replay, the catalog-never-leads-sink
ordering, report attribution identity, and catalog compaction."""

import os

import pytest
from pyspark.sql import functions as F

from cl_readability_spark.functions.incremental import (
    write_exact_catalog,
    write_minhash_catalog,
)
from cl_readability_spark.pipeline import ingest as ingest_mod
from cl_readability_spark.pipeline.ingest import (
    CatalogLedger,
    compact_exact_catalog,
    ingest_batch,
    recover_catalogs,
)
from cl_readability_spark.pipeline.resume import CheckpointedSink
from cl_readability_spark.pipeline.transcripts import synthetic_transcripts

pytestmark = pytest.mark.spark

# forgiving gates so the synthetic corpus' short turns survive and the
# test exercises the DEDUP attribution, not the quality battery
CURATE = {"min_chars": 10, "min_stopword_bp": 0, "materialize": "none"}


def _catalogs(spark, tag):
    """Fresh empty catalogs with the ingest loop's string row key."""
    import shutil

    exact, mh = f"ing_exact_{tag}", f"ing_mh_{tag}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in (exact, mh):
        for sfx in ("", "__meta", "__compact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{sfx}")
            shutil.rmtree(f"{warehouse}/{t}{sfx}", ignore_errors=True)
    empty = spark.createDataFrame(
        [], "_ingest_id string, extracted_text string"
    )
    write_exact_catalog(
        empty, exact, text_col="extracted_text", id_col="_ingest_id",
        n_buckets=4,
    )
    write_minhash_catalog(
        empty, mh, text_col="extracted_text", id_col="_ingest_id",
        n_buckets=4, n_hashes=32, bands=8,
    )
    return exact, mh


def _copies(transcripts, prefix):
    """The same conversations under new conv_ids — identical text, so
    the extraction output is byte-identical → guaranteed catalog hits."""
    return transcripts.withColumn(
        "conv_id", F.concat(F.lit(prefix), F.col("conv_id"))
    )


@pytest.fixture()
def batches(spark):
    b1 = synthetic_transcripts(spark, 3, seed=7)
    fresh = synthetic_transcripts(spark, 3, seed=99)
    # batch2 = copies of batch1 + genuinely fresh conversations
    b2 = _copies(b1, "copy-").unionByName(
        fresh.withColumn(
            "conv_id", F.concat(F.lit("fresh-"), F.col("conv_id"))
        )
    )
    return b1, b2


def test_two_batch_ingest_attributes_catalog_dups(
    spark, tmp_path, batches
):
    b1, b2 = batches
    exact, mh = _catalogs(spark, "twobatch")
    sink = CheckpointedSink(str(tmp_path / "corpus"))

    r1 = ingest_batch(
        b1, sink, exact_table=exact, minhash_table=mh, curate_opts=CURATE
    )
    assert r1["rows_in"] == b1.count()
    assert r1["exact_in_catalog"] == 0 and r1["near_dup_in_catalog"] == 0
    assert r1["rows_kept"] > 0
    # catalog grew by exactly the kept fingerprints
    assert spark.table(exact).count() == r1["rows_kept"]

    r2 = ingest_batch(
        b2, sink, exact_table=exact, minhash_table=mh, curate_opts=CURATE
    )
    assert r2["rows_in"] == b2.count()
    # every batch-1 KEPT row's copy is an exact catalog hit; batch-1
    # DROPPED rows' copies are not in the catalog (drops are never
    # appended) and fall to the same intra-batch gates instead
    assert r2["exact_in_catalog"] >= r1["rows_kept"]
    # attribution identity: the drop columns partition the batch
    assert r2["rows_in"] == (
        r2["exact_in_catalog"] + r2["near_dup_in_catalog"]
        + r2["dropped_quality"] + r2["dropped_contaminated"]
        + r2["dropped_exact_dup"] + r2["dropped_near_dup"]
        + r2["rows_kept"]
    )
    # the curated corpus view: kept rows from both batches, unique keys
    corpus = sink.read(spark).filter("kept")
    assert corpus.count() == r1["rows_kept"] + r2["rows_kept"]
    assert (
        corpus.select("conv_id", "turn_idx").distinct().count()
        == corpus.count()
    )
    # no copy-of-batch-1 content among batch-2 keeps: kept extracted
    # texts are globally unique across the corpus
    assert (
        corpus.select("fingerprint").distinct().count() == corpus.count()
    )


def test_rerun_is_noop(spark, tmp_path, batches):
    b1, _ = batches
    exact, mh = _catalogs(spark, "rerun")
    sink = CheckpointedSink(str(tmp_path / "corpus"))
    r1 = ingest_batch(
        b1, sink, exact_table=exact, minhash_table=mh, curate_opts=CURATE
    )
    n_batches = len(sink.committed_batches())
    cat_rows = spark.table(exact).count()
    r2 = ingest_batch(
        b1, sink, exact_table=exact, minhash_table=mh, curate_opts=CURATE
    )
    assert r2["rows_in"] == 0 and r2["batch"] is None
    assert len(sink.committed_batches()) == n_batches
    assert spark.table(exact).count() == cat_rows
    assert r1["rows_kept"] > 0  # the first run did real work


def test_crash_between_commit_and_append_replays(
    spark, tmp_path, batches, monkeypatch
):
    """Kill the catalog append + ledger mark after the sink commit (the
    step-7/step-8 crash window): the next ingest must replay batch 1's
    append BEFORE probing, so batch 2's copies are still flagged."""
    b1, b2 = batches
    exact, mh = _catalogs(spark, "crash")
    sink = CheckpointedSink(str(tmp_path / "corpus"))

    with monkeypatch.context() as m:
        m.setattr(
            ingest_mod, "_append_kept_to_catalogs", lambda *a, **k: None
        )
        m.setattr(CatalogLedger, "mark", lambda self, bid: None)
        r1 = ingest_batch(
            b1, sink, exact_table=exact, minhash_table=mh,
            curate_opts=CURATE,
        )
    assert r1["rows_kept"] > 0
    assert spark.table(exact).count() == 0  # the crash: append never ran

    r2 = ingest_batch(
        b2, sink, exact_table=exact, minhash_table=mh, curate_opts=CURATE
    )
    assert r2["recovered_batches"] == [r1["batch"]]
    assert r2["exact_in_catalog"] >= r1["rows_kept"]


def test_sink_failure_leaves_catalogs_untouched(
    spark, tmp_path, batches, monkeypatch
):
    """The ordering argument: a crash DURING the sink commit must leave
    the catalogs without the batch's fingerprints — otherwise a rerun
    would drop never-committed rows as 'already in the corpus'."""
    b1, _ = batches
    exact, mh = _catalogs(spark, "sinkfail")
    sink = CheckpointedSink(str(tmp_path / "corpus"))

    def boom(df):
        raise RuntimeError("simulated write failure")

    with monkeypatch.context() as m:
        m.setattr(sink, "write_batch", boom)
        with pytest.raises(RuntimeError, match="simulated"):
            ingest_batch(
                b1, sink, exact_table=exact, minhash_table=mh,
                curate_opts=CURATE,
            )
    assert spark.table(exact).count() == 0
    assert spark.table(mh).count() == 0
    # the rerun processes the full batch — nothing was spuriously dropped
    r = ingest_batch(
        b1, sink, exact_table=exact, minhash_table=mh, curate_opts=CURATE
    )
    assert r["rows_in"] == b1.count()
    assert r["exact_in_catalog"] == 0 and r["near_dup_in_catalog"] == 0


def test_double_append_then_compact(spark, tmp_path, batches):
    """Duplicate catalog rows (crash-replayed appends) must not fan out
    probe rows; compaction restores one-row-per-fingerprint."""
    b1, b2 = batches
    exact, mh = _catalogs(spark, "compact")
    sink = CheckpointedSink(str(tmp_path / "corpus"))
    r1 = ingest_batch(
        b1, sink, exact_table=exact, minhash_table=mh, curate_opts=CURATE
    )
    # simulate the append-then-crash-before-ledger replay: force a
    # second append of batch 1 by clearing the ledger
    ledger = CatalogLedger(
        os.path.join(sink.root, ingest_mod._LEDGER_NAME)
    )
    os.remove(ledger.path)
    replayed = recover_catalogs(spark, sink, exact, mh, ledger)
    assert replayed == [r1["batch"]]
    assert spark.table(exact).count() == 2 * r1["rows_kept"]

    # probe semantics unchanged under duplicates (the fanout guard)
    r2 = ingest_batch(
        b2, sink, exact_table=exact, minhash_table=mh, curate_opts=CURATE
    )
    assert r2["rows_in"] == b2.count()

    compact_exact_catalog(spark, exact)
    cat = spark.table(exact)
    assert cat.count() == cat.select("fingerprint").distinct().count()
    # the compacted table still carries the bucket spec: a fresh probe
    # plan keeps the catalog side unshuffled
    from cl_readability_spark.functions.incremental import (
        incremental_exact_dedup,
    )

    probe = incremental_exact_dedup(
        synthetic_transcripts(spark, 1, seed=3)
        .withColumn("_ingest_id", F.lit("x"))
        .select("_ingest_id", F.col("text").alias("extracted_text")),
        exact,
        text_col="extracted_text",
        id_col="_ingest_id",
    )
    for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        spark.conf.set(k, "-1")
    try:
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ):
            spark.conf.unset(k)
    assert "Bucketed: true" in plan, plan[:4000]


def test_ingest_without_catalogs_still_curates(spark, tmp_path, batches):
    """Catalog-less ingest = extract + curate + resumable commit (the
    bootstrap mode before any catalog exists)."""
    b1, _ = batches
    sink = CheckpointedSink(str(tmp_path / "corpus"))
    r = ingest_batch(b1, sink, curate_opts=CURATE)
    assert r["rows_in"] == b1.count()
    assert r["rows_kept"] > 0
    assert r["exact_in_catalog"] == 0 and r["near_dup_in_catalog"] == 0
    assert sink.read(spark).filter("kept").count() == r["rows_kept"]


def test_committed_filter_scopes_resume_scan(spark, tmp_path, batches):
    """``committed_filter`` bounds the resume anti-join's committed-keys
    scan to the batch's key partition — the one per-batch term that
    otherwise reads O(corpus) keys (BENCH/BASELINE.md round 8).
    Correctness: a covering filter keeps the rerun a no-op, and a
    disjoint-partition batch ingests in full; plan: the predicate
    reaches the committed parquet scan as a pushed filter."""
    b1, _ = batches
    day1 = _copies(b1, "day1-")
    day2 = _copies(b1, "day2-")  # same text, DISJOINT key partition
    sink = CheckpointedSink(str(tmp_path / "corpus"))

    r1 = ingest_batch(day1, sink, curate_opts=CURATE)
    assert r1["rows_kept"] > 0

    # covering filter: the day1 rerun scoped to day1 keys stays a no-op
    r2 = ingest_batch(
        day1, sink, curate_opts=CURATE,
        committed_filter=F.col("conv_id").startswith("day1-"),
    )
    assert r2["rows_in"] == 0 and r2["batch"] is None

    # disjoint partition: the scoped scan reads no day1 keys, yet every
    # day2 row still processes (keys cannot collide across partitions)
    r3 = ingest_batch(
        day2, sink, curate_opts=CURATE,
        committed_filter=F.col("conv_id").startswith("day2-"),
    )
    assert r3["rows_in"] == day2.count()
    # and the scoped rerun of day2 is now a no-op too
    r4 = ingest_batch(
        day2, sink, curate_opts=CURATE,
        committed_filter=F.col("conv_id").startswith("day2-"),
    )
    assert r4["rows_in"] == 0

    # the predicate reaches the committed-keys parquet scan pushed down
    keys = sink.committed_keys(spark).filter(
        F.col("conv_id").startswith("day1-")
    )
    plan = keys._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith" in plan and "PushedFilters" in plan, (
        plan[:3000]
    )


def test_url_catalog_gates_ingest_before_extraction(spark, tmp_path):
    """url_table= probes canonical URLs BEFORE extraction: batch-2
    rows re-crawling batch-1 KEPT pages under raw URL variants (www/
    case/utm noise, DIFFERENT text — content gates can't catch them)
    skip extraction and commit as flagged drops; intra-batch variants
    collapse to one; NULL-url rows always proceed; kept pages' canon
    urls append under the ledger; rerun is a no-op."""
    import shutil

    from cl_readability_spark.functions.incremental import (
        write_url_catalog,
    )

    url_t = "ing_url_cat"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for sfx in ("", "__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {url_t}{sfx}")
        shutil.rmtree(f"{warehouse}/{url_t}{sfx}", ignore_errors=True)
    write_url_catalog(
        spark.createDataFrame([], "_ingest_id string, url string"),
        url_t, url_col="url", id_col="_ingest_id", n_buckets=4,
    )
    sink = CheckpointedSink(str(tmp_path / "url_corpus"))

    page = F.concat_ws("/", F.lit("http://ex.com"), "conv_id",
                       F.col("turn_idx").cast("string"))
    b1 = synthetic_transcripts(spark, 3, seed=7).withColumn("url", page)
    r1 = ingest_batch(
        b1, sink, url_table=url_t, curate_opts=CURATE, url_col="url"
    )
    assert r1["url_in_catalog"] == 0 and r1["url_batch_dup"] == 0
    assert r1["rows_kept"] > 0
    # catalog grew by exactly the kept rows' canonical urls
    assert spark.table(url_t).count() == r1["rows_kept"]

    # batch 2: refetches of batch-1 pages under URL variants with NEW
    # conv_ids and DIFFERENT text + one intra-batch variant pair of a
    # fresh page + a null-url row
    variant = F.concat(
        F.lit("HTTP://WWW."),
        F.regexp_replace("url", r"^http://", ""),
        F.lit("?utm_source=tw"),
    )
    refetch = (
        b1.withColumn("conv_id", F.concat(F.lit("re-"), "conv_id"))
        .withColumn("url", variant)
        .withColumn(
            "text", F.concat(F.lit("entirely rewritten body: "), "text")
        )
    )
    extra = spark.createDataFrame(
        [
            ("x1", 0, "assistant",
             "a genuinely fresh page body with plenty of readable words "
             "in it for the forgiving toy gates", None, None,
             "http://new.com/p1"),
            ("x2", 0, "assistant",
             "another fresh page body that is a url variant of the one "
             "above and must collapse within the batch", None, None,
             "http://NEW.com/p1/"),
            ("x3", 0, "assistant",
             "a row with no url at all that must flow through every "
             "content stage untouched by the url gate", None, None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, url string",
    )
    b2 = refetch.unionByName(extra)
    r2 = ingest_batch(
        b2, sink, url_table=url_t, curate_opts=CURATE, url_col="url"
    )
    assert r2["rows_in"] == b2.count()
    # every batch-1 KEPT page's variant is a url hit (dropped pages
    # were never cataloged); exactly one intra-batch variant collapses
    assert r2["url_in_catalog"] == r1["rows_kept"]
    assert r2["url_batch_dup"] == 1
    # attribution identity extends with the url terms
    assert r2["rows_in"] == (
        r2["url_in_catalog"] + r2["url_batch_dup"]
        + r2["exact_in_catalog"] + r2["near_dup_in_catalog"]
        + r2["dropped_quality"] + r2["dropped_contaminated"]
        + r2["dropped_exact_dup"] + r2["dropped_near_dup"]
        + r2["rows_kept"]
    )
    # url drops committed WITHOUT extraction (resume must see them;
    # extracted_text stays NULL — the stage was skipped)
    committed = sink.read(spark)
    url_dropped = committed.filter(
        F.coalesce(F.col("url_in_catalog"), F.lit(False))
        | F.coalesce(F.col("url_batch_dup"), F.lit(False))
    )
    assert url_dropped.count() == r2["url_in_catalog"] + r2["url_batch_dup"]
    assert url_dropped.filter(F.col("extracted_text").isNotNull()).count() == 0
    assert not url_dropped.filter(F.col("kept")).count()
    # the null-url row flowed through and was kept
    assert committed.filter(
        F.col("conv_id") == "x3"
    ).select("kept").collect()[0].kept

    # rerun: resume anti-join sees every processed row (drops included)
    r3 = ingest_batch(
        b2, sink, url_table=url_t, curate_opts=CURATE, url_col="url"
    )
    assert r3["rows_in"] == 0

    for sfx in ("", "__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {url_t}{sfx}")
