"""URL canonicalization + url_dedup (functions/urls.py): handcrafted
contract cases, a python mirror differential over randomized composed
URLs, dedup winner semantics, and the plan shape (pure codegen
projection; skew-safe winner aggregation)."""

import re

import pytest
from pyspark.sql import functions as F

from cl_readability_spark.functions.urls import (
    TRACKING_PARAMS,
    canonicalize_url,
    url_dedup,
    url_host,
)

pytestmark = pytest.mark.spark

_TRACK = re.compile(
    r"(?:^|&)(?:" + "|".join(TRACKING_PARAMS) + r")(?:=[^&]*)?(?=&|$)"
)


def _py_canon(url):
    """Driver-side mirror of the documented canonical contract."""
    if url is None:
        return None
    s = url.strip()
    if s == "":
        return None
    m = re.match(
        r"^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?",
        s,
    )
    scheme = (m.group(1) or "").lower()
    has_auth = bool(re.match(r"^(?:[^:/?#]+:)?//", s))
    rawauth = m.group(2) or ""
    am = re.match(r"^(?:([^@]*@))?(\[[^\]]+\]|[^:]*)(?::([0-9]*))?$", rawauth)
    userinfo = (am.group(1) or "") if am else ""
    host = ((am.group(2) or "") if am else "").lower()
    if host.startswith("www.") and "." in host[4:]:
        host = host[4:]
    port = (am.group(3) or "") if am else ""
    if port == "" or (scheme == "http" and port == "80") or (
        scheme == "https" and port == "443"
    ):
        port = ""
    else:
        port = ":" + port
    path = m.group(3) or ""
    if has_auth and path == "":
        path = "/"
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    query = m.group(4) or ""
    query = _TRACK.sub("", query).lstrip("&")
    parts = sorted(p for p in query.split("&") if p != "")
    query = "&".join(parts)
    out = ""
    if scheme:
        out += scheme + ":"
    if has_auth:
        out += "//" + userinfo + host + port
    out += path
    if query:
        out += "?" + query
    return out


CASES = {
    # case + www + default port + trailing slash + fragment + tracking
    "HTTP://WWW.Example.COM:80/Path/?utm_source=x&b=2&a=1#frag":
        "http://example.com/Path?a=1&b=2",
    "https://example.com:443/": "https://example.com/",
    "https://example.com:8443/x/": "https://example.com:8443/x",
    "http://example.com": "http://example.com/",
    # userinfo preserved; param sort; bare tracking flag
    "http://u:p@Host.org/a?z=1&fbclid&y=2": "http://u:p@host.org/a?y=2&z=1",
    # www stripped only when a dot remains
    "http://www.com/x": "http://www.com/x",
    "http://WWW.sub.example.org/": "http://sub.example.org/",
    # utm-only query drops the '?'
    "http://a.io/p?utm_campaign=c&utm_medium=m": "http://a.io/p",
    # param whose NAME merely contains a tracker name is kept
    "http://a.io/p?xutm_source=1&autm=2": "http://a.io/p?autm=2&xutm_source=1",
    # scheme-less input: path-only handling
    "example.com/x/": "example.com/x",
    # mailto: no authority, no '//' in output
    "MAILTO:Bob@Example.com": "mailto:Bob@Example.com",
    # file with EMPTY authority keeps '//' (has_auth by presence)
    "file:///etc/hosts": "file:///etc/hosts",
    # IPv6 host, non-default port
    "http://[2001:DB8::1]:8080/a": "http://[2001:db8::1]:8080/a",
    # root stays '/'; duplicate params survive sort
    "http://x.com/?b=1&b=1&a=2": "http://x.com/?a=2&b=1&b=1",
    "   http://pad.org/a   ": "http://pad.org/a",
}


def test_canonicalize_contract_cases(spark):
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(CASES)], ["i", "url"]
    ).withColumn("canon", canonicalize_url(F.col("url")))
    got = {r["url"].strip() if r["url"] else None: r["canon"]
           for r in df.collect()}
    for raw, want in CASES.items():
        assert got[raw.strip()] == want, raw
        assert _py_canon(raw) == want, ("py-mirror", raw)


def test_canonicalize_null_and_blank(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], ["i", "url"]
    ).withColumn("canon", canonicalize_url(F.col("url")))
    assert [r["canon"] for r in df.orderBy("i").collect()] == [None] * 3


def test_canonicalize_idempotent_and_differential(spark):
    """Randomized composed URLs: Spark == python mirror, and canon is a
    fixed point (canon(canon(u)) == canon(u))."""
    hosts = ["WWW.Site{}.COM", "blog.s{}.org", "S{}.io", "www.com"]
    paths = ["", "/", "/a/b", "/a/b/", "/x%2Fy", "//double"]
    queries = ["", "?b=2&a=1", "?utm_source=s&k=1", "?gclid=g",
               "?a=1&a=0", "?_ga=1&z="]
    frags = ["", "#top", "#a?b=1"]
    ports = ["", ":80", ":443", ":8080"]
    schemes = ["http", "HTTPS"]
    rows = []
    i = 0
    for h in hosts:
        for p in paths:
            for q in queries:
                for fr in frags:
                    sc = schemes[i % 2]
                    pt = ports[i % 4]
                    rows.append(
                        (i, f"{sc}://{h.format(i % 5)}{pt}{p}{q}{fr}")
                    )
                    i += 1
    df = spark.createDataFrame(rows, ["i", "url"]).withColumn(
        "canon", canonicalize_url(F.col("url"))
    ).withColumn("canon2", canonicalize_url(F.col("canon")))
    for r in df.collect():
        want = _py_canon(r["url"])
        assert r["canon"] == want, r["url"]
        assert r["canon2"] == r["canon"], ("fixed point", r["url"])


def test_url_host(spark):
    df = spark.createDataFrame(
        [(1, "https://u@WWW.Ex.org:444/p?q=1#f"), (2, "ftp://h/x")],
        ["i", "url"],
    ).select("i", url_host(F.col("url")).alias("h"))
    r = {x["i"]: x for x in df.collect()}
    assert r[1]["h"] == "ex.org"
    assert r[2]["h"] == "h"


def test_url_dedup_winners_and_nulls(spark):
    rows = [
        (1, "http://A.com/x?utm_source=1"),
        (2, "http://a.com/x/"),            # same canon as 1 -> loses
        (3, "http://a.com/x?k=1"),         # distinct
        (4, None),                          # null url: kept
        (5, ""),                            # blank url: kept
        (6, "http://a.com/x"),             # same canon as 1/2 -> loses
    ]
    out = url_dedup(
        spark.createDataFrame(rows, ["doc_id", "url"]), url_col="url"
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["url_keep"] and not got[2]["url_keep"]
    assert not got[6]["url_keep"]
    assert got[3]["url_keep"]
    assert got[4]["url_keep"] and got[4]["canon_url"] is None
    assert got[5]["url_keep"] and got[5]["canon_url"] is None
    assert got[1]["canon_url"] == got[2]["canon_url"] == "http://a.com/x"
    # exactly one keeper per non-null canon group
    per = (
        out.filter(F.col("canon_url").isNotNull())
        .groupBy("canon_url")
        .agg(F.sum(F.col("url_keep").cast("int")).alias("k"))
        .collect()
    )
    assert all(r["k"] == 1 for r in per)


def test_plan_shapes(spark):
    """canonicalize is one codegen projection (no python eval, no
    lambda HOFs); url_dedup's winner selection partial-aggregates
    map-side and joins on the row id, never the content key."""
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("http://h"), F.pmod(F.col("id"), F.lit(7)),
                 F.lit(".com/p?utm_source=x&a=1")).alias("url"),
    )
    proj = df.select(canonicalize_url(F.col("url")).alias("c"))
    pplan = proj._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in pplan and "ArrowEval" not in pplan
    assert "LambdaFunction" not in pplan
    # codegen'd nodes render with the "*(n)" prefix in executedPlan
    assert "*(1) Project" in pplan or "*(2) Project" in pplan, pplan[:2000]

    out = url_dedup(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, plan[:3000]
    # the join back to rows is keyed on doc_id, not canon_url
    joins = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln
             or "BroadcastHashJoin" in ln or "ShuffledHashJoin" in ln]
    assert joins and all("doc_id" in ln for ln in joins), joins
    assert not any("canon_url" in ln for ln in joins), joins


def test_url_dedup_composite_key(spark):
    """id_cols=(a, b) keys the winner by the lexicographic-minimum
    composite row key — the same min(struct(...)) ordering line_dedup
    uses, which the curate() url stage relies on for winner
    consistency."""
    rows = [
        ("c2", 0, "http://a.com/x"),   # loses: ("c1", 5) < ("c2", 0)
        ("c1", 5, "http://a.com/x/"),  # wins (min conv_id first)
        ("c1", 9, "http://a.com/y"),   # distinct canon
        ("c3", 1, None),               # null url: kept
    ]
    out = url_dedup(
        spark.createDataFrame(rows, ["conv_id", "turn_idx", "url"]),
        url_col="url",
        id_col=None,
        id_cols=("conv_id", "turn_idx"),
    )
    got = {(r.conv_id, r.turn_idx): r for r in out.collect()}
    assert got[("c1", 5)]["url_keep"]
    assert not got[("c2", 0)]["url_keep"]
    assert got[("c1", 9)]["url_keep"]
    assert got[("c3", 1)]["url_keep"]


def test_url_dedup_key_validation(spark):
    df = spark.createDataFrame([(1, "http://a.com")], ["doc_id", "url"])
    with pytest.raises(ValueError, match="id_col or id_cols"):
        url_dedup(df, url_col="url", id_col=None, id_cols=None)


def _hosted_df(spark):
    rows = [
        # host a.com: 2 docs, 1 kept, scores 0.2/0.8
        (1, "http://a.com/p1", True, 0.2),
        (2, "https://WWW.A.com/p2", False, 0.8),
        # host b.com: 3 docs, 3 kept
        (3, "http://b.com/x", True, 1.0),
        (4, "http://b.com/y", True, 1.0),
        (5, "http://b.com/z", True, 1.0),
        # host c.com: 1 doc, 0 kept (thin evidence)
        (6, "http://c.com/q", False, 0.0),
        # no extractable host
        (7, None, True, 0.5),
        (8, "not a url at all", True, 0.5),
    ]
    return spark.createDataFrame(
        rows, "doc_id int, url string, kept boolean, score double"
    )


def test_domain_stats(spark):
    from cl_readability_spark.functions.urls import domain_stats

    got = {
        r.host: r
        for r in domain_stats(
            _hosted_df(spark), keep_col="kept", score_col="score"
        ).collect()
    }
    # host-less rows (null / bare path) excluded
    assert set(got) == {"a.com", "b.com", "c.com"}
    a = got["a.com"]  # www + case folded into one host
    assert a.n_docs == 2 and a.n_kept == 1
    assert abs(a.kept_frac - 0.5) < 1e-12
    assert abs(a.mean_score - 0.5) < 1e-12
    assert got["b.com"].n_docs == 3 and got["b.com"].kept_frac == 1.0


def test_domain_gate_thresholds_and_blocklist(spark):
    from cl_readability_spark.functions.urls import domain_gate, domain_stats

    df = _hosted_df(spark)
    stats = domain_stats(df, keep_col="kept", score_col="score")
    # kept_frac < 0.6 condemns a.com; c.com escapes via min_docs=2
    out = {
        r.doc_id: r
        for r in domain_gate(
            df, stats=stats, min_kept_frac=0.6, min_docs=2
        ).collect()
    }
    assert not out[1].domain_keep and not out[2].domain_keep
    assert all(out[i].domain_keep for i in (3, 4, 5, 6, 7, 8))
    # blocklist unions in; no-host rows still kept
    bl = spark.createDataFrame([("b.com",)], ["host"])
    out2 = {
        r.doc_id: r
        for r in domain_gate(
            df, stats=stats, min_kept_frac=0.6, min_docs=2, blocklist=bl
        ).collect()
    }
    assert not out2[3].domain_keep and not out2[1].domain_keep
    assert out2[6].domain_keep and out2[7].domain_keep

    with pytest.raises(ValueError, match="stats"):
        domain_gate(df)
    # stats alone with no thresholds condemns nobody
    out3 = domain_gate(df, stats=stats, min_docs=1)
    assert all(r.domain_keep for r in out3.collect())


def test_domain_gate_plan_broadcasts_condemned(spark):
    """The condemned-host side is #hosts-bounded -> the gate join must
    be a broadcast (no shuffle keyed on host, hot hosts can't skew);
    domain_stats partial-aggregates map-side."""
    from cl_readability_spark.functions.urls import domain_gate, domain_stats

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("http://h"), F.pmod(F.col("id"), F.lit(13)),
            F.lit(".com/p"), F.col("id"),
        ).alias("url"),
        (F.pmod(F.col("id"), F.lit(3)) > 0).alias("kept"),
    )
    stats = domain_stats(df, keep_col="kept")
    splan = stats._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in splan or "partial" in splan, splan[:2000]
    out = domain_gate(df, stats=stats, min_kept_frac=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
