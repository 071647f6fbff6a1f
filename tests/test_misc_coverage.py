"""Odds and ends the inventory promises: IBTrACS 16-col layout,
approx_count_distinct sanity, sal..."""

import os
import sys

import pyspark.sql.functions as F
import pytest

from modeltracking_spark.schemas import load_table
from modeltracking_spark.sources.tracks import read_ibtracs_track
from tests.conftest import REF_DIR, SF001

SANDY = f"{REF_DIR}/Hurricanefiles/Sandy_track.csv"


@pytest.mark.skipif(not os.path.exists(SANDY), reason="reference fixtures absent")
def test_ibtracs_16_column_layout(spark):
    # the wide IBTrACS layout the reference could never load (SURVEY §1.3)
    df = read_ibtracs_track(spark, SANDY, wide=True)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["t_hours"] is not None for r in rows)
    assert all(0.0 <= r["lon"] < 360.0 for r in rows)


def test_approx_count_distinct_sanity(spark):
    # §2.5: approx_count_distinct within 5% of exact (not oracle-able —
    # HLL implementations differ across engines — so asserted here)
    e = load_table(spark, SF001, "events")
    r = e.agg(
        F.count_distinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id").alias("approx"),
    ).first()
    assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.05


def test_pii_scrub_golden(spark):
    from modeltracking_spark.operators.textops import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.co now, call 555-123-4567 from 10.0.0.1"),
            (2, "no pii here"),
            (3, "two mails x@y.io z@w.de and 1.2.3.4 5.6.7.8"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r for r in pii_scrub(df).collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ipv4"]) == (1, 1, 1)
    assert rows[1]["redacted_text"] == "mail <EMAIL> now, call <PHONE> from <IPV4>"
    assert (rows[2]["n_email"], rows[2]["n_phone"], rows[2]["n_ipv4"]) == (0, 0, 0)
    assert rows[2]["redacted_text"] == "no pii here"
    assert (rows[3]["n_email"], rows[3]["n_ipv4"]) == (2, 2)
    assert rows[3]["redacted_text"] == "two mails <EMAIL> <EMAIL> and <IPV4> <IPV4>"


def test_gopher_rules_bitmask_and_keep(spark):
    """Hand-crafted docs hitting each rule: the fail bitmask must name
    exactly the violated rules and keep must be their conjunction."""
    from modeltracking_spark.operators.textops import gopher_rules

    good = "the quick brown fox jumps over a lazy dog and then it " * 3
    rows = [
        (1, good),                       # passes everything
        (2, "the of " + "xxxx " * 28),   # diversity fail only (bit 3)
        (3, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
                                         # too short + no stopwords (bits 0,2)
        (4, good + "!!!!"),              # punct fail only (bit 4)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_rules(d).collect()}
    assert got[1]["fail_mask"] == 0 and got[1]["keep"]
    assert got[2]["fail_mask"] == 8 and not got[2]["keep"]
    assert got[3]["fail_mask"] == 1 + 4 and not got[3]["keep"]
    assert got[4]["fail_mask"] == 16 and not got[4]["keep"]


def test_exact_median_grouped_even_and_odd(spark):
    """Odd group -> middle value; even group -> floored midpoint mean
    (never a .5); matches the documented integer-exact definition."""
    from modeltracking_spark.operators.aggregates import exact_median_grouped

    rows = [("a", 1), ("a", 9), ("a", 5),            # odd: median 5
            ("b", 2), ("b", 3), ("b", 10), ("b", 11)]  # even: (3+10)//2 = 6
    d = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in exact_median_grouped(d, "g", "v").collect()}
    assert (got["a"]["median"], got["a"]["n_rows"]) == (5, 3)
    assert (got["b"]["median"], got["b"]["n_rows"]) == (6, 4)


def test_html_extract_drops_chrome_and_strips_tags(spark):
    """Boilerplate (head/nav/footer) must never leak into main_text;
    nested tags inside the content strip to whitespace-normalized text."""
    from modeltracking_spark.operators.textops import html_extract_main_text

    html = (
        "<html><head><title>My Page</title></head><body>"
        "<nav>home about</nav>"
        '<div class="content"><p>hello <b>bold</b> world</p>'
        "<p>second  para</p></div>"
        "<footer>(c) chrome</footer></body></html>"
    )
    d = spark.createDataFrame([(1, html)], "doc_id long, html string")
    (r,) = html_extract_main_text(d).collect()
    assert r["title"] == "My Page"
    assert r["main_text"] == "hello bold world second para"
    assert r["main_chars"] == len("hello bold world second para")
    for chrome in ("home", "about", "chrome", "(c)", "My Page"):
        assert chrome not in r["main_text"]


def test_url_canonicalization_golden_cases(spark):
    from modeltracking_spark.operators.textops import canonicalize_url

    cases = [
        # default port stripped, host lowered, fragment dropped, params sorted
        ("HTTP://WWW.Ex.COM:80/a?z=1&a=2#frag", "http://www.ex.com/a?a=2&z=1"),
        # https default port; tracking params removed entirely
        ("https://Ex.com:443/p?utm_source=x&b=1&fbclid=f", "https://ex.com/p?b=1"),
        # non-default port kept; empty path becomes /
        ("http://ex.com:8080?a=1", "http://ex.com:8080/?a=1"),
        # all params tracking -> no query string at all
        ("http://ex.com/p?utm_a=1&gclid=2", "http://ex.com/p"),
        ("https://ex.com", "https://ex.com/"),
    ]
    d = spark.createDataFrame(cases, "url string, want string")
    rows = d.select("want", canonicalize_url("url").alias("got")).collect()
    for r in rows:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_url_canonicalization_fragment_and_schemeless_edges(spark):
    """Review regressions: a '?' inside the fragment is NOT a query
    string, and scheme-less inputs pass through unchanged instead of
    collapsing onto shared junk keys."""
    from modeltracking_spark.operators.textops import canonicalize_url

    cases = [
        ("http://ex.com/p#sec?x=1", "http://ex.com/p"),
        ("example.com/a?x=1", "example.com/a?x=1"),
        ("other.org/b?x=1", "other.org/b?x=1"),
    ]
    d = spark.createDataFrame(cases, "url string, want string")
    for r in d.select("want", canonicalize_url("url").alias("got")).collect():
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_html_extract_multiline_content(spark):
    """Review regression: real pages are multi-line — DOTALL matching
    must extract across newlines instead of silently emptying docs."""
    from modeltracking_spark.operators.textops import html_extract_main_text

    html = (
        "<html><head><title>Two\nLines</title></head><body>\n"
        '<div class="content"><p>line one\nline two</p>\n</div>\n'
        "<footer>x</footer></body></html>"
    )
    d = spark.createDataFrame([(1, html)], "doc_id long, html string")
    (r,) = html_extract_main_text(d).collect()
    assert r["main_text"] == "line one line two"
    assert r["title"] == "Two\nLines"


def test_exact_median_grouped_skips_nulls(spark):
    """Review regression: NULL values follow SQL aggregate semantics —
    skipped from the median, excluded from n_rows, all-NULL group
    yields NULL instead of crashing the worker."""
    from modeltracking_spark.operators.aggregates import exact_median_grouped

    rows = [("a", 1), ("a", None), ("a", 3), ("b", None)]
    d = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in exact_median_grouped(d, "g", "v").collect()}
    assert (got["a"]["median"], got["a"]["n_rows"]) == (2, 2)
    assert got["b"]["median"] is None and got["b"]["n_rows"] == 0


def test_mad_hand_values_and_median_paths_agree(spark):
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.aggregates import exact_median_grouped
    from modeltracking_spark.queries.common import rank_median_df

    # group [10, 20, 30, 2000] cents: median floor((20+30)/2) = 25;
    # devs [15, 5, 5, 1975] -> MAD floor((5+15)/2) = 10; only the
    # planted 2000 has dev > 3*MAD. Negative-median group [-25//2
    # midpoint] pins the FLOOR definition both paths must share.
    v = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 30), (4, "a", 2000),
         (5, "b", -11), (6, "b", -14)],
        "event_id long, event_type string, cents long",
    )
    udf_med = {r["event_type"]: r["med"]
               for r in exact_median_grouped(v, "event_type", "cents", "med").collect()}
    rank_med = {r["event_type"]: r["med"]
                for r in rank_median_df(v, "event_type", "cents", "med").collect()}
    assert udf_med == rank_med == {"a": 25, "b": -13}   # floored, not truncated
    d = v.where(F.col("event_type") == "a").withColumn(
        "dev", F.abs(F.col("cents") - F.lit(udf_med["a"]))
    )
    mad = exact_median_grouped(d, "event_type", "dev", "mad").collect()[0]
    assert mad["mad"] == 10
    outliers = [r["event_id"] for r in d.where(F.col("dev") > 3 * mad["mad"]).collect()]
    assert outliers == [4]


def test_zscore_hand_values(spark):
    import math

    import pyspark.sql.functions as F

    from modeltracking_spark.queries import load_registries
    from tests.conftest import SF001

    qs, _ = load_registries()
    out = qs["zscore_standardize_events"](spark, SF001)
    rows = out.collect()
    assert len(rows) > 0 and all(r["z_e6"] is not None for r in rows)
    # per group the z-scores must be centered: sum of (unfloored) z is 0,
    # so the e6-floored sum stays within n/2 of 0
    sums = (
        out.groupBy("event_type")
        .agg(F.sum("z_e6").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in sums:
        assert abs(r["s"]) <= r["n"]
    # and unit-variance: mean of z^2 within 1% of 1
    var = out.agg(F.avg((F.col("z_e6") / 1e6) ** 2).alias("v")).collect()[0]
    assert math.isclose(var["v"], 1.0, rel_tol=0.02)


def test_key_skew_profile_hand_values(spark):
    """Gini identity on a hand distribution: sizes [1, 1, 2, 4] ->
    G = (2*(1*1+2*1+3*2+4*4) - 5*8) / (4*8) = (2*25-40)/32 = 0.3125;
    uniform sizes -> G = 0; max_share exact."""
    from modeltracking_spark.queries import load_registries

    qs, _ = load_registries()
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    def profile(sizes):
        rows = [(f"u{i}", s) for i, s in enumerate(sizes)]
        g = spark.createDataFrame(rows, "user_id string, c long")
        r = g.withColumn(
            "i", F.row_number().over(Window.orderBy("c", "user_id"))
        )
        t = r.agg(
            F.count(F.lit(1)).alias("n_keys"), F.sum("c").alias("n_rows"),
            F.max("c").alias("max_count"),
            F.sum(F.col("i").cast("long") * F.col("c")).alias("wsum"),
        ).first()
        num = 2 * t["wsum"] - (t["n_keys"] + 1) * t["n_rows"]
        return t, num / (t["n_keys"] * t["n_rows"])

    t, gini = profile([1, 1, 2, 4])
    assert t["max_count"] == 4 and abs(gini - 0.3125) < 1e-12
    _, gini0 = profile([3, 3, 3, 3])
    assert abs(gini0) < 1e-12
    _, gini_max = profile([0, 0, 0, 100])  # all mass on one key
    assert abs(gini_max - 0.75) < 1e-12  # (n-1)/n for n=4


def test_blocklist_ac_matches_bruteforce(spark):
    """r8 Aho-Corasick blocklist: automaton counts equal brute-force
    position enumeration on adversarial cases — self-overlap ('aaaa'
    holds 'aa' x3), shared prefixes, keyword-inside-keyword, matches
    crossing token boundaries — and on 40 random haystacks."""
    import random

    from modeltracking_spark.operators.textops import blocklist_match_counts

    kws = ["aa", "aab", "ab", "ba", "b", "ab ab"]

    def brute(text):
        c = {}
        for ki, kw in enumerate(kws):
            n = sum(
                1
                for i in range(len(text) - len(kw) + 1)
                if text[i : i + len(kw)] == kw
            )
            if n:
                c[ki] = n
        return c

    rng = random.Random(8)
    rows = [
        (0, "aaaa"),
        (1, "aab ab ab ba"),
        (2, ""),
        (3, "xyz"),
    ] + [
        (10 + i, "".join(rng.choice("ab x") for _ in range(rng.randint(0, 60))))
        for i in range(40)
    ]
    rows = [(i, t) for i, t in rows if t != ""] + [(2, "x")]  # empty text
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in blocklist_match_counts(df, kws).collect():
        got.setdefault(r["doc_id"], {})[r["kw_id"]] = r["n_occ"]
    for did, text in rows:
        assert got.get(did, {}) == brute(text), (did, text)


def test_blocklist_oracle_unroll_bound_holds(spark):
    """The SQL oracle enumerates start positions from range(640); every
    shipped sf dir's text length must stay inside that bound."""
    import pyspark.sql.functions as F

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        mx = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .select(F.max(F.length("text")).alias("m"))
            .first()["m"]
        )
        assert mx < 640, (sf, mx)


def test_ewma_fold_properties(spark):
    """r8 integer EWMA: hand recurrence on a tiny fixture; smoothing
    bounds (min <= ewma <= max of the prefix); first value passthrough;
    the (user_id, ts) uniqueness the fold order relies on holds in
    every shipped sf dir."""
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.aggregates import ewma_by_key

    rows = [
        (1, 10, 100, 400),   # s0 = 400
        (1, 20, 101, 0),     # s1 = (0 + 3*400) div 4 = 300
        (1, 30, 102, 100),   # s2 = (100 + 900) div 4 = 250
        (2, 10, 200, 7),     # independent key, s0 = 7
        (2, 20, 201, 9),     # s1 = (9 + 21) div 4 = 7
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, cents long"
    )
    got = {
        r["event_id"]: r["ewma_cents"]
        for r in ewma_by_key(
            df, "user_id", "ts", "event_id", F.col("cents")
        ).collect()
    }
    assert got == {100: 400, 101: 300, 102: 250, 200: 7, 201: 7}
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        dup = (
            ev.groupBy("user_id", "ts").count().where(F.col("count") > 1)
        ).count()
        assert dup == 0, f"(user_id, ts) ties in {sf} break the order"


def test_registry_output_schemas_are_atomic_and_aliased(spark):
    """Registry-wide invariant (VERDICT r8 item 1/4): the driver's
    correctness gate pandas-sorts every result frame, so a TOP-LEVEL
    array/map/struct column crashes its canonicalizer (r8's one red
    row, ``array_functions_demo``), and an un-aliased aggregate column
    (``sum(l_quantity)``) can never hash-match its oracle. Build every
    registered query's plan at sf0.001 and assert each output column is
    an atomic type with a plain-identifier name. Lazy — schemas come
    from analysis, not execution — except the streaming queries, which
    materialize on construction and are already covered per-query."""
    import re

    from pyspark.sql.types import ArrayType, MapType, StructType

    from modeltracking_spark.queries import load_registries

    QUERIES, ORACLES = load_registries()
    assert len(QUERIES) == len(ORACLES)
    ident = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
    bad = []
    for name, fn in QUERIES.items():
        schema = fn(spark, "/root/testdata/sf0.001").schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
            if not ident.match(f.name):
                bad.append((name, f.name, "non-identifier column name"))
    assert not bad, f"non-atomic / un-aliased output columns: {bad}"


def test_nfc_normalize_composition_cases(spark):
    """UAX #15 composition pinned: decomposed accent, canonical
    REORDERING of combining marks, Hangul jamo -> syllable; composed
    input is a fixed point (idempotence)."""
    import unicodedata

    from modeltracking_spark.operators.textops import (
        NFC_EXERCISE_SUFFIX,
        nfc_normalize_col,
    )

    rows = [
        (0, "plain ascii"),
        (1, "é"),                 # -> U+00E9
        (2, "q̣̇"),           # reorders to q U+0323 U+0307
        (3, "가"),            # -> U+AC00
        (4, "é"),                  # already composed: unchanged
        (5, NFC_EXERCISE_SUFFIX),
        (6, None),                      # null passthrough
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["nfc"]
        for r in nfc_normalize_col(df, "text", "nfc").collect()
    }
    assert got[1] == "é"
    assert got[2] == "q̣̇"
    assert got[3] == "가"
    assert got[4] == "é"
    assert got[0] == "plain ascii"
    assert got[6] is None
    assert got[5] == unicodedata.normalize("NFC", NFC_EXERCISE_SUFFIX)
    # idempotence: NFC(NFC(x)) == NFC(x)
    df2 = spark.createDataFrame(
        [(k, v) for k, v in got.items() if v is not None],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: r["nfc"]
        for r in nfc_normalize_col(df2, "text", "nfc").collect()
    }
    assert got2 == {k: v for k, v in got.items() if v is not None}


def test_quality_checks_one_pass_and_failure_detection(spark):
    """The audit compiles to ONE aggregate job (plus the broadcast
    anti-join for ref integrity), and actually CATCHES each defect
    class on a poisoned frame."""
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.quality_checks import (
        check,
        run_checks,
    )
    from modeltracking_spark.plans import executed_plan

    rows = [
        (1, 10.0, "F", "1-URGENT", 100),
        (2, -5.0, "X", "9-bad", 100),      # bound + set + regex violations
        (2, 7.0, "O", "2-HIGH", None),     # dup key + null custkey
        (3, 3.0, "P", "3-MEDIUM", 999),    # orphan custkey
    ]
    df = spark.createDataFrame(
        rows, "k long, price double, status string, prio string, cust long"
    )
    dim = spark.createDataFrame([(100,), (200,)], "ck long")
    out = {
        r["constraint"]: r
        for r in run_checks(df, [
            check("completeness", "cust"),
            check("min_value", "price", lo=0),
            check("in_set", "status", values=["F", "O", "P"]),
            check("matches", "prio", regex="^[1-5]-[A-Z]+$"),
            check("uniqueness", "k"),
            check("ref_integrity", "cust", dim_df=dim, dim_col="ck"),
        ]).collect()
    }
    assert out["completeness(cust)"]["violations"] == 1
    assert out["completeness(cust)"]["metric_e6"] == 750000
    assert out["min_value(price>=0)"]["violations"] == 1
    assert out["in_set(status)"]["violations"] == 1
    assert out["matches(prio)"]["violations"] == 1
    assert out["uniqueness(k)"]["violations"] == 1
    assert out["ref_integrity(cust)"]["violations"] == 1
    assert not any(r["passed"] for r in out.values())

    # plan shape: the non-referential constraints share ONE aggregate
    # over ONE scan of the fact table
    plain = run_checks(df, [
        check("completeness", "cust"),
        check("min_value", "price", lo=0),
        check("in_set", "status", values=["F", "O", "P"]),
        check("uniqueness", "k"),
    ])
    plan = executed_plan(plain)
    # the aggregate executed ONCE up front (bounded 1-row collect); the
    # audit table itself is a local relation with NO scan of the fact
    # table — one pass total, regardless of constraint count
    assert "Scan" not in plan or "Scan ExistingRDD" in plan
    clean = run_checks(df.where(F.col("k") == 1), [
        check("min_value", "price", lo=0),
    ]).collect()
    assert clean[0]["passed"] and clean[0]["violations"] == 0


def test_quality_checks_empty_table(spark):
    """ADVICE r9: auditing an empty table aborted with an ANSI
    DIVIDE_BY_ZERO. Contract now: metric_e6 NULL, violations 0,
    passed True — an empty ingest audits clean, loudly NULL-metric."""
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.quality_checks import (
        check,
        run_checks,
    )

    df = spark.createDataFrame(
        [], "k long, price double, status string, cust long"
    )
    dim = spark.createDataFrame([(100,)], "ck long")
    rows = {
        r["constraint"]: r
        for r in run_checks(df, [
            check("completeness", "cust"),
            check("min_value", "price", lo=0),
            check("in_set", "status", values=["F"]),
            check("uniqueness", "k"),
            check("ref_integrity", "cust", dim_df=dim, dim_col="ck"),
        ]).collect()
    }
    assert len(rows) == 5
    for r in rows.values():
        assert r["metric_e6"] is None
        assert r["violations"] == 0
        assert r["passed"] is True


def test_robust_outlier_stats_hand_case(spark):
    """Median/MAD/modified-z on a hand group incl. the MAD==0
    degenerate arm and the floor-of-midpoint even-size median."""
    import pyspark.sql.functions as F

    from modeltracking_spark.operators.aggregates import (
        robust_outlier_stats,
    )

    rows = (
        [("a", v) for v in [1, 2, 3, 4, 5, 1000]]   # even n, one outlier
        + [("b", 7)] * 5 + [("b", 9)]               # MAD==0 degenerate
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r["g"]: r for r in
           robust_outlier_stats(df, "g", "v").collect()}
    a = out["a"]
    # sorted [1,2,3,4,5,1000]: median = (3+4)//2 = 3; devs sorted
    # [1,2,2,1,0,997] -> [0,1,1,2,2,997]: MAD = (1+2)//2 = 1
    assert (a["median_v"], a["mad_v"], a["n_rows"]) == (3, 1, 6)
    # modified z: 67450*dev > 350000*1 -> dev > 5.19: only 997
    assert a["n_outliers"] == 1
    b = out["b"]
    assert (b["median_v"], b["mad_v"]) == (7, 0)
    assert b["n_outliers"] == 1  # degenerate arm: any nonzero deviation


def test_codec_roundtrip_harness_contract(spark):
    """codec_roundtrip_stats: str and bytes payloads, extra columns
    between orig_len and dec_md5, and ok=False (not an exception) when
    the decoder returns different bytes."""
    import hashlib

    from modeltracking_spark.operators.kernel import codec_roundtrip_stats

    df = spark.createDataFrame(
        [(1, "abc"), (2, "hello"), (3, "")], "doc_id long, payload string"
    )

    def make_codec():
        def encode(ids, raws):
            return [raw[::-1] for raw in raws]

        def decode(blob):
            return b"x" if blob == b"olleh" else blob[::-1]

        return encode, decode

    out = codec_roundtrip_stats(
        df, make_codec,
        extra=[("blob_len", "long", lambda did, raw, blob: len(blob)),
               ("odd", "boolean", lambda did, raw, blob: did % 2 == 1)],
    )
    assert out.columns == ["doc_id", "orig_len", "blob_len", "odd",
                           "dec_md5", "ok"]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["ok"] and rows[3]["ok"] and not rows[2]["ok"]
    assert rows[2]["dec_md5"] == hashlib.md5(b"x").hexdigest()
    assert [rows[i]["orig_len"] for i in (1, 2, 3)] == [3, 5, 0]
    assert rows[1]["odd"] and not rows[2]["odd"]

    bin_df = spark.createDataFrame(
        [(7, bytearray(b"\x00\xff"))], "doc_id long, payload binary"
    )
    (r,) = codec_roundtrip_stats(bin_df, make_codec).collect()
    assert (r["orig_len"], r["ok"]) == (2, True)


def _write_zip(path, modules):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13 zipimport only drops its cache entry; no guard installed",
)
def test_zipimport_guard_skips_unchanged_archive(tmp_path, monkeypatch):
    """With the package imported, importlib.invalidate_caches() reads an
    unchanged archive's directory no more; a rewritten archive is read
    again and its new module imports."""
    import importlib
    import zipimport

    import modeltracking_spark  # noqa: F401  (installs the guard)

    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"mts_guard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    try:
        import mts_guard_a

        assert mts_guard_a.X == 1
        importlib.invalidate_caches()  # first guarded pass stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"mts_guard_a": "X = 1\n", "mts_guard_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import mts_guard_b

        assert mts_guard_b.Y == 2
    finally:
        for name in ("mts_guard_a", "mts_guard_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_zipimport_guard_noop_from_python_313(monkeypatch):
    import zipimport

    from modeltracking_spark import _guard_zipimport_invalidate

    current = zipimport.zipimporter.invalidate_caches
    stock = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    assert _guard_zipimport_invalidate((3, 13, 0)) is False
    assert zipimport.zipimporter.invalidate_caches is stock
    assert _guard_zipimport_invalidate(sys.version_info) is (
        sys.version_info < (3, 13)
    )


def test_zipimport_guard_installed_in_every_task(spark):
    """Every Python-worker task that unpickles a closure over the package
    runs with the guard, and a repeated invalidate_caches() in the task
    re-reads none of the worker's zip archives."""
    import pandas as pd

    import modeltracking_spark as pkg

    def report(batches):
        import importlib
        import os
        import zipimport

        for _ in batches:
            pass
        installed = getattr(
            zipimport.zipimporter.invalidate_caches, "_skips_unchanged", False
        )
        n_zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame(
            {"pkg": [pkg.__name__], "pid": [os.getpid()],
             "installed": [installed], "zips": [n_zips],
             "rereads": [len(reads)]}
        )

    rows = (
        spark.range(0, 8, numPartitions=8)
        .mapInPandas(report, "pkg string, pid long, installed boolean, "
                             "zips long, rereads long")
        .collect()
    )
    assert len(rows) == 8
    guarded = sys.version_info < (3, 13)
    assert all(r["installed"] is guarded for r in rows)
    assert all(r["zips"] > 0 for r in rows)
    if guarded:
        assert all(r["rereads"] == 0 for r in rows)
