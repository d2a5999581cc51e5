"""URL canonicalization kernel + operators: equivalence classes,
idempotence (hypothesis), NULL quarantine, and the dedup verdict
shape over a Spark frame."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from loc2vec_spark.operators.url import (canonicalize,
                                         canonicalize_urls, dedup_urls)


def test_equivalence_classes_collapse():
    variants = [
        "http://Example.COM/a/b",
        "http://example.com:80/a/b",
        "http://www.example.com/a/b/",
        "http://example.com/a/./b",
        "http://example.com/a/x/../b",
        "http://example.com//a//b",
        "http://example.com/a/b#section-2",
        "http://example.com/a/b?utm_source=x&utm_campaign=y",
        "http://example.com/a/b?gclid=abc123",
    ]
    canon = {canonicalize(u) for u in variants}
    assert canon == {"http://example.com/a/b"}


def test_www_strips_to_fixed_point():
    """Stacked www prefixes must land on ONE key (a single strip left
    www.www.x and www.x on different keys AND broke idempotence)."""
    assert canonicalize("http://www.www.example.com/a") == \
        "http://example.com/a"
    assert canonicalize("http://www.www.www.example.com/a") == \
        "http://example.com/a"


def test_functional_ref_param_survives():
    """?ref= is functional on real sites (git forges, docs version
    pickers) — collapsing it would merge different pages, and a
    false-positive dedup silently drops a document."""
    a = canonicalize("https://git.example.com/repo/file?ref=main")
    b = canonicalize("https://git.example.com/repo/file?ref=dev")
    assert a != b
    assert a == "https://git.example.com/repo/file?ref=main"


def test_query_params_survive_sorted():
    a = canonicalize("https://h.io/p?b=2&a=1&utm_medium=email")
    b = canonicalize("https://h.io/p?a=1&b=2")
    assert a == b == "https://h.io/p?a=1&b=2"
    # non-default port and blank values survive
    assert canonicalize("https://h.io:8443/p?x=") == \
        "https://h.io:8443/p?x="
    # https default port strips
    assert canonicalize("HTTPS://h.io:443/p") == "https://h.io/p"


def test_root_and_edge_paths():
    assert canonicalize("http://a.io") == "http://a.io/"
    assert canonicalize("http://a.io/") == "http://a.io/"
    assert canonicalize("http://a.io/..") == "http://a.io/"
    assert canonicalize("http://a.io/x/..") == "http://a.io/"
    # trailing dot on the host is DNS-root notation
    assert canonicalize("http://a.io./x") == "http://a.io/x"
    # bare www (after root-dot strip) is a real odd host, not a
    # strippable prefix — the len guard keeps it intact
    assert canonicalize("http://www./x") == "http://www/x"


def test_malformed_urls_are_null():
    for bad in ["", "not a url", "http://", "///x",
                "http://h.io:99999999/p", "http://[::1", None]:
        assert canonicalize(bad) is None if bad is not None else True


def test_non_http_scheme_passes_through():
    assert canonicalize("FTP://Host.io/Pub/") == "ftp://host.io/Pub"


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=60))
def test_canonicalize_total_and_idempotent(s):
    """Never raises on arbitrary text; canonical forms are fixed
    points."""
    c = canonicalize(s)
    if c is not None:
        assert canonicalize(c) == c


def test_canonicalize_urls_operator(spark):
    rows = [(1, "http://Example.com:80/a?utm_source=t"),
            (2, "https://sub.example.com/b/c/"),
            (3, "oops not a url"),
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, uri string")
    out = {r["doc_id"]: r for r in canonicalize_urls(df).collect()}
    assert out[1]["canon_url"] == "http://example.com/a"
    assert out[1]["host"] == "example.com"
    assert out[2]["canon_url"] == "https://sub.example.com/b/c"
    assert out[2]["host"] == "sub.example.com"
    assert out[3]["canon_url"] is None and out[3]["host"] is None
    assert out[4]["canon_url"] is None


def test_canonicalize_urls_crosses_one_column(spark):
    """Only the URL crosses into Python: every other column (a binary
    body included) comes back unchanged and in order, and the plan has
    no whole-row MapInPandas."""
    body = bytes(range(256)) * 4
    rows = [(1, "http://www.a.io/x/", body, 2.5),
            (2, None, None, None),
            (3, "%%%", b"", -1.0)]
    df = spark.createDataFrame(
        rows, "doc_id long, uri string, body binary, score double")
    out = canonicalize_urls(df)
    assert out.columns == df.columns + ["canon_url", "host"]
    got = sorted(out.collect())
    assert [tuple(r)[:4] for r in got] == rows
    assert [(r["canon_url"], r["host"]) for r in got] == [
        ("http://a.io/x", "a.io"), (None, None), (None, None)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan


def test_dedup_urls_verdicts(spark):
    rows = [(10, "http://a.io/x"),
            (11, "http://www.a.io/x/"),
            (12, "http://a.io/x#frag"),
            (20, "http://b.io/y"),
            (30, "%%%"),       # malformed: its own keeper
            (31, "%%%")]       # malformed twin: NOT glued to 30
    df = spark.createDataFrame(rows, "doc_id long, uri string")
    out = {r["doc_id"]: r for r in
           dedup_urls(df, "doc_id").collect()}
    assert out[10]["keep"] and out[10]["dup_of"] is None
    assert not out[11]["keep"] and out[11]["dup_of"] == 10
    assert not out[12]["keep"] and out[12]["dup_of"] == 10
    assert out[20]["keep"]
    assert out[30]["keep"] and out[31]["keep"]


def test_dedup_urls_plan_shape(spark):
    """One shuffle for the min-id aggregate; no cartesian, no
    per-row Python UDF nodes (the canonicalizer is one Arrow
    crossing)."""
    rows = [(i, f"http://h{i % 3}.io/p{i % 5}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, uri string")
    plan = dedup_urls(df, "doc_id")._jdf.queryExecution() \
                                    .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan      # no per-row Python
    assert plan.count("MapInPandas") == 0     # only the URL crosses
