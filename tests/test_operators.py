"""Operator-level golden tests: reference-quirk parity (voting tie order,
upper-median, date-average bug), normalization, type cascade, connected
components, minhash/LSH recall."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.functions._porter import stem_word
from mannheimsearchjoinsengine_spark.functions.normalize import norm_key
from mannheimsearchjoinsengine_spark.functions.typeguess import guess_type
from mannheimsearchjoinsengine_spark.operators.canonical import connected_components
from mannheimsearchjoinsengine_spark.operators.resolve import (
    resolve_date_average,
    resolve_dispatch,
    resolve_median,
    resolve_voting,
)


def _cells(spark, values, dtype="string"):
    """One (s, p) group, values in ts order; ``dtype`` is one dtype for
    every value or a list with one dtype per value."""
    dtypes = [dtype] * len(values) if isinstance(dtype, str) else dtype
    base = dt.datetime(2026, 1, 1)
    rows = [
        Row(
            subj_norm="s", pred_canon="p", obj_raw=v,
            ts=base + dt.timedelta(seconds=37 * i), dtype=t,
        )
        for i, (v, t) in enumerate(zip(values, dtypes))
    ]
    return spark.createDataFrame(rows)


def test_voting_first_to_reach_max(spark):
    # b reaches count 2 at position 3; a reaches count 2 at position 4 →
    # reference votForFinalValue keeps b (strictly-greater update rule).
    df = _cells(spark, ["a", "b", "b", "a"])
    out = resolve_voting(df).collect()[0]
    assert out.obj_resolved == "b"
    # all singletons → first value wins
    df2 = _cells(spark, ["z", "m", "a"])
    assert resolve_voting(df2).collect()[0].obj_resolved == "z"


@pytest.mark.parametrize(
    "vals,expected",
    [
        (["1", "2", "3", "4"], 3.0),   # even n → values[n/2] (0-based upper)
        (["1", "2", "3"], 3.0),        # odd n → values[n/2+1] (the quirk!)
        (["5"], 5.0),                  # n=1 → the value (reference would throw)
        (["10", "20", "30", "40", "50"], 40.0),  # n=5 → index 3
    ],
)
def test_median_reference_quirk(spark, vals, expected):
    out = resolve_median(_cells(spark, vals, dtype="numeric")).collect()[0]
    assert out.obj_resolved == expected


def test_date_average_last_date_bug(spark):
    # reference bug: only the LAST date is counted, divided by n
    df = _cells(spark, ["2000-01-01", "1970-01-03"], dtype="date")
    out = resolve_date_average(df).collect()[0]
    assert out.avg_epoch_s == (2 * 86400) // 2  # last date epoch / n


@pytest.mark.parametrize(
    "vals,dtype,expected",
    [
        # 1:1 dtype vote → dtype ascending picks numeric (median), not
        # string (voting would return "10")
        (["10", "abc"], ["numeric", "string"], "10.0"),
        # date majority: the non-date value is left out of both the last
        # date and n → epoch(1970-01-03) / 2
        (["2000-01-01", "1970-01-03", "unknown"], ["date", "date", "string"], "86400"),
        # unit values resolve by their numeric prefix; odd n → index n/2+1
        (["500 km2", "1,200 km2", "80 km2"], "unit", "1200.0"),
        (["7"], "numeric", "7.0"),  # median of n = 1
        (["true", "false", "false"], "bool", "true"),  # first value by ts
        (["2000-13-45", "99.99.9999"], "date", None),  # nothing parses → no row
    ],
)
def test_resolve_dispatch_branches(spark, vals, dtype, expected):
    out = [r.obj_resolved for r in resolve_dispatch(_cells(spark, vals, dtype)).collect()]
    assert out == ([] if expected is None else [expected])


def test_norm_key_variants(spark):
    surfaces = [
        "New Brightwater",
        "NEW BRIGHTWATER",
        "new brightwater",
        "Brightwater New",
        "New Brightwater (city)",
        "New Brightwater&nbsp;",
        "New Brightwater [sic]",
    ]
    df = spark.createDataFrame([(s,) for s in surfaces], ["s"])
    keys = {r.k for r in df.select(norm_key(F.col("s")).alias("k")).collect()}
    assert keys == {"brightwater new"}


@pytest.mark.parametrize(
    "value,expected",
    [
        ("{a|b|c}", "list"),
        ("500 km2", "unit"),
        ("10/31/1912", "date"),
        ("1912-10-31", "date"),
        ("31.10.1912", "date"),
        ("true", "bool"),
        # Boolean.parseBoolean quirk (ColumnTypeGuesser.java:82-83):
        # only "true" is bool — "false" falls through to string
        ("false", "string"),
        # bare-year quirk (DateUtil.java:122 '^\d{4}$'->'yyyy'): every
        # 4-digit integer is a date in the reference
        ("2004", "date"),
        ("09-July-2004", "date"),
        ("07/2004", "date"),
        ("http://x.example.com", "link"),
        ("41.1775, 20.6788", "coordinate"),
        ("1,234,567", "numeric"),
        ("-3.5", "numeric"),
        ("unity honor", "string"),
        ("x" * 60, "string"),  # 50-char cutoff
    ],
)
def test_type_cascade(spark, value, expected):
    df = spark.createDataFrame([(value,)], ["v"])
    assert df.select(guess_type(F.col("v")).alias("t")).collect()[0].t == expected


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "a")],
        ["src", "dst"],
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    # {a,b,c,p,q,r} one component (min 'a'); {x,y} another (min 'x')
    assert comp["a"] == comp["b"] == comp["c"] == comp["p"] == comp["q"] == comp["r"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_connected_components_long_chain(spark):
    """Diameter ≫ max_iter of the old min-propagation kernel: a 100-node
    chain must come back as ONE component (min id root) — the O(log n)
    large-star/small-star guarantee, not O(diameter)."""
    n = 100
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)], ["src", "dst"]
    )
    rows = connected_components(edges, max_iter=10).collect()
    comp = {r.node: r.component for r in rows}
    assert len(comp) == n
    assert set(comp.values()) == {"n000"}


def test_connected_components_shuffled_forest(spark):
    """Two shuffled components with reversed edge directions + duplicate and
    self-loop edges; min-id semantics must match a python union-find."""
    raw = [
        ("k", "d"), ("d", "b"), ("b", "k"), ("b", "b"), ("d", "k"),
        ("z", "m"), ("m", "t"), ("t", "z"), ("m", "z"),
    ]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {"k": "b", "d": "b", "b": "b", "z": "m", "m": "m", "t": "m"}


def _typed_cells_df(spark):
    """4 fully-aligned subjects; 'staff' only on 3 (one complement row)."""
    base = dt.datetime(2026, 1, 1)
    rows = []
    for i, s in enumerate(["s1", "s2", "s3", "s4"]):
        v = 100 + i
        t = lambda k: base + dt.timedelta(minutes=i, seconds=k)  # noqa: E731
        rows += [
            Row(subj_norm=s, pred_raw="age", obj_raw=str(v), ts=t(0)),
            Row(subj_norm=s, pred_raw="years", obj_raw=str(v + 1), ts=t(1)),
            Row(subj_norm=s, pred_raw="emp", obj_raw=f"{v * 1000:,}", ts=t(2)),
            Row(subj_norm=s, pred_raw="born", obj_raw=f"200{i}-01-01", ts=t(4)),
            Row(subj_norm=s, pred_raw="bdate", obj_raw=f"200{i}-01-01", ts=t(5)),
        ]
        if s != "s4":
            rows.append(
                Row(subj_norm=s, pred_raw="staff", obj_raw=f"{v * 1000 + 5:,}", ts=t(3))
            )
    df = spark.createDataFrame(rows)
    return df.withColumn("dtype", guess_type(F.col("obj_raw")))


def test_typed_pair_scores_kernels_and_quirks(spark):
    from mannheimsearchjoinsengine_spark.operators.match import typed_pair_scores

    s = {(r.pred1, r.pred2): r for r in typed_pair_scores(_typed_cells_df(spark)).collect()}
    # numeric kernel: comma-free near-miss values score ~0.5·min/max
    ay = s[("age", "years")]
    assert ay.n_both == ay.n_rows == 4 and ay.n_complement == 0
    assert 0.49 <= ay.avg_sim <= 0.5 and ay.n_exact == 0
    # comma quirk: Double.valueOf throws on grouping commas → exact 0/1
    es = s[("emp", "staff")]
    assert es.n_both == 3 and es.n_rows == 4 and es.n_complement == 1
    assert es.sum_sim == 0.0 and es.avg_sim == 0.0
    # inverted date kernel: EQUAL dates score 0 (diff/range), not 1
    bb = s[("bdate", "born")]
    assert bb.n_both == 4 and bb.avg_sim == 0.0 and bb.n_exact == 0


def test_typed_merge_map_marriage(spark):
    from mannheimsearchjoinsengine_spark.operators.match import typed_merge_map

    mm = {r.pred_raw: r.pred_canon for r in typed_merge_map(_typed_cells_df(spark)).collect()}
    # years marries age (equal evidence → lexicographic-min winner);
    # the comma pair and the equal-date pair must NOT merge
    assert mm["years"] == "age"
    assert mm["staff"] == "staff" and mm["emp"] == "emp"
    assert mm["bdate"] == "bdate" and mm["born"] == "born"


def test_greedy_marriage_chain(spark):
    """a–b–c with b the hub: only the best edge survives — the reference's
    discard-if-partner-better, NOT the one-pass star collapse."""
    from mannheimsearchjoinsengine_spark.operators.match import greedy_marriage

    edges = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8)], ["pred1", "pred2", "avg_sim"]
    )
    got = {(r.pred1, r.pred2) for r in greedy_marriage(edges).collect()}
    assert got == {("a", "b")}
    # 4-node path: sequential-greedy result {(a,b), (c,d)} in two rounds
    edges = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8), ("c", "d", 0.7)],
        ["pred1", "pred2", "avg_sim"],
    )
    got = {(r.pred1, r.pred2) for r in greedy_marriage(edges).collect()}
    assert got == {("a", "b"), ("c", "d")}


def test_porter_stemmer_golden():
    golden = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
        "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "sized": "size", "hopping": "hop", "falling": "fall",
        "happy": "happi", "relational": "relat", "conditional": "condit",
        "digitizer": "digit", "operator": "oper", "triplicate": "triplic",
        "formative": "form", "electrical": "electr", "hopeful": "hope",
        "goodness": "good", "revival": "reviv", "adjustable": "adjust",
        "effective": "effect", "probate": "probat", "cease": "ceas",
    }
    for w, s in golden.items():
        assert stem_word(w) == s, f"{w}: got {stem_word(w)}, want {s}"


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    from mannheimsearchjoinsengine_spark.operators.ann import brute_force_topk, lsh_topk
    from mannheimsearchjoinsengine_spark.sources.transcripts import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    ls = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, qs, k=5).collect()}
    recall = len(bf & ls) / len(bf)
    assert recall >= 0.3, f"LSH recall collapsed: {recall:.2f}"


DOMAIN_GOLDENS = [
    # host, public_suffix, registered_domain
    ("www.bbc.co.uk", "co.uk", "bbc.co.uk"),
    ("news.bbc.co.uk", "co.uk", "bbc.co.uk"),
    ("www.example.com", "com", "example.com"),
    ("example.com", "com", "example.com"),
    ("a.b.c.example.com.au", "com.au", "example.com.au"),
    ("library.ac.uk", "ac.uk", "library.ac.uk"),
    ("co.uk", "co.uk", "co.uk"),
    ("localhost", "localhost", "localhost"),
    ("shop.example.co.jp", "co.jp", "example.co.jp"),
    ("foo.eu.com", "eu.com", "foo.eu.com"),
]


def test_domain_extraction_goldens(spark):
    """PSL-aware eTLD / eTLD+1 (F13): multi-label suffixes resolve right and
    the DuckDB twin agrees value-for-value (it backs the kg_domains oracle).
    Reference parity: utils/DomainUtils.java (full PSL; curated subset here)."""
    import duckdb

    from mannheimsearchjoinsengine_spark.functions.domains import (
        duck_public_suffix,
        duck_registered_domain,
        public_suffix,
        registered_domain,
    )

    df = spark.createDataFrame([(h,) for h, _, _ in DOMAIN_GOLDENS], ["host"])
    got = {
        r.host: (r.ps, r.rd)
        for r in df.select(
            "host",
            public_suffix(F.col("host")).alias("ps"),
            registered_domain(F.col("host")).alias("rd"),
        ).collect()
    }
    for host, ps, rd in DOMAIN_GOLDENS:
        assert got[host] == (ps, rd), f"{host}: got {got[host]}, want {(ps, rd)}"

    con = duckdb.connect()
    for host, ps, rd in DOMAIN_GOLDENS:
        row = con.execute(
            f"SELECT {duck_public_suffix('h')}, {duck_registered_domain('h')} "
            f"FROM (SELECT '{host}' AS h)"
        ).fetchone()
        assert row == (ps, rd), f"duckdb {host}: got {row}, want {(ps, rd)}"


def test_date_format_cascade_cross_engine(spark):
    """Every format in resolve.DATE_FORMATS round-trips: one sample value
    per format, Spark parse_any_date == DuckDB duck_parse_date == expected.
    (F10 breadth — parsers/DateUtil.java:179-217 reduced to the unambiguous
    formats; the two twins are generated from the SAME table.)"""
    import datetime

    import duckdb

    from mannheimsearchjoinsengine_spark.operators.resolve import (
        DATE_FORMATS,
        duck_parse_date,
        parse_any_date,
    )

    d = datetime.date(2004, 7, 9)
    # one sample per format, strftime'd with the duckdb (python-compatible)
    # pattern; ambiguous samples (07/09 ↔ 09/07) parse as the FIRST matching
    # cascade entry in BOTH engines, so we assert spark == duckdb, not
    # per-format intent
    samples = [(d.strftime(duck_fmt), spark_fmt) for spark_fmt, duck_fmt in DATE_FORMATS]
    df = spark.createDataFrame([(s,) for s, _ in samples], ["v"])
    got = {r.v: r.d for r in df.select("v", parse_any_date(F.col("v")).alias("d")).collect()}
    con = duckdb.connect()
    for s, fmt in samples:
        duck = con.execute(
            f"SELECT {duck_parse_date('v')} FROM (SELECT '{s}' AS v)"
        ).fetchone()[0]
        assert got[s] is not None, f"{fmt}: spark failed to parse {s!r}"
        assert got[s] == duck, f"{fmt}: spark {got[s]} != duckdb {duck} on {s!r}"


def test_load_psl(tmp_path):
    """load_psl parses a publicsuffix.dat into the three PSL rule kinds:
    exact (2-4 labels), wildcard bases (``*.ck`` → ``ck``), exceptions
    (``!www.ck`` → ``www.ck``); comments / 1-label TLDs are dropped, and
    rules beyond the evaluator's 4-label depth are dropped LOUDLY (warning
    by default, ValueError under strict=True) — never silently."""
    import pytest as _pytest

    from mannheimsearchjoinsengine_spark.functions.domains import PslRules, load_psl

    dat = tmp_path / "psl.dat"
    dat.write_text(
        "// comment\n\ncom\nco.uk\n*.ck\n!www.ck\nsch.uk\n ac.uk \nuk\n"
        "act.edu.au\npvt.k12.ma.us\na.b.c.d.e\n*.kawasaki.jp\n!city.kawasaki.jp\n"
    )
    with _pytest.warns(UserWarning, match=r"1 rule\(s\) exceed.*a\.b\.c\.d\.e"):
        rules = load_psl(str(dat))
    assert rules == PslRules(
        exact=("ac.uk", "act.edu.au", "co.uk", "pvt.k12.ma.us", "sch.uk"),
        wildcard=("ck", "kawasaki.jp"),
        exception=("city.kawasaki.jp", "www.ck"),
    )
    with _pytest.raises(ValueError, match="4-label depth"):
        load_psl(str(dat), strict=True)

    clean = tmp_path / "clean.dat"
    clean.write_text("com\nco.uk\n*.ck\n!www.ck\n")
    load_psl(str(clean), strict=True)  # no out-of-range rules -> no error


def test_psl_wildcard_exception_rules(spark):
    """Full PSL rule evaluation (utils/DomainUtils.java carries the baked
    list; the wildcard/exception algorithm is the published PSL one):
    ``*.ck`` makes every child of ck a public suffix, ``!www.ck`` carves
    www.ck back out; 3-label exact rules (act.edu.au) score over last-2;
    Spark and the DuckDB twins agree value-for-value."""
    import duckdb

    from mannheimsearchjoinsengine_spark.functions.domains import (
        PslRules,
        duck_public_suffix,
        duck_registered_domain,
        public_suffix,
        registered_domain,
    )

    rules = PslRules(
        exact=("co.uk", "act.edu.au", "pvt.k12.ma.us"),
        wildcard=("ck", "kawasaki.jp"),
        exception=("www.ck", "city.kawasaki.jp"),
    )
    goldens = [
        # host, public_suffix, registered_domain
        ("foo.bar.ck", "bar.ck", "foo.bar.ck"),     # *.ck
        ("bar.ck", "bar.ck", "bar.ck"),             # host IS a wildcard suffix
        ("www.ck", "ck", "www.ck"),                 # exception beats wildcard
        ("sub.www.ck", "ck", "www.ck"),
        ("x.y.kawasaki.jp", "y.kawasaki.jp", "x.y.kawasaki.jp"),  # 2-label wildcard base
        ("city.kawasaki.jp", "kawasaki.jp", "city.kawasaki.jp"),  # 3-label exception
        ("a.city.kawasaki.jp", "kawasaki.jp", "city.kawasaki.jp"),
        ("www.anu.act.edu.au", "act.edu.au", "anu.act.edu.au"),   # 3-label exact
        ("anu.act.edu.au", "act.edu.au", "anu.act.edu.au"),
        ("act.edu.au", "act.edu.au", "act.edu.au"),               # bare suffix
        ("www.bbc.co.uk", "co.uk", "bbc.co.uk"),                  # 2-label exact intact
        ("plain.com", "com", "plain.com"),
        # 4-label exact rule (PSL's deepest published exact zones)
        ("school.pvt.k12.ma.us", "pvt.k12.ma.us", "school.pvt.k12.ma.us"),
        ("www.school.pvt.k12.ma.us", "pvt.k12.ma.us", "school.pvt.k12.ma.us"),
        ("pvt.k12.ma.us", "pvt.k12.ma.us", "pvt.k12.ma.us"),      # bare 4-label suffix
    ]
    df = spark.createDataFrame([(h,) for h, _, _ in goldens], ["host"])
    got = {
        r.host: (r.ps, r.rd)
        for r in df.select(
            "host",
            public_suffix(F.col("host"), rules).alias("ps"),
            registered_domain(F.col("host"), rules).alias("rd"),
        ).collect()
    }
    con = duckdb.connect()
    for host, ps, rd in goldens:
        assert got[host] == (ps, rd), f"spark {host}: got {got[host]}, want {(ps, rd)}"
        row = con.execute(
            f"SELECT {duck_public_suffix('h', rules)}, "
            f"{duck_registered_domain('h', rules)} FROM (SELECT '{host}' AS h)"
        ).fetchone()
        assert row == (ps, rd), f"duckdb {host}: got {row}, want {(ps, rd)}"


def test_unit_conversion_goldens(spark):
    from mannheimsearchjoinsengine_spark.operators.fuse import split_unit, to_base_unit

    df = spark.createDataFrame(
        [("500 km2",), ("180 cm",), ("12 MUSD",), ("1,250 kg",), ("3.5 km",)],
        ["v"],
    )
    num, abbr = split_unit(F.col("v"))
    bv, bu = to_base_unit(num, abbr)
    got = {r.v: (r.bv, r.bu) for r in df.select("v", bv.alias("bv"), bu.alias("bu")).collect()}
    assert got["500 km2"] == (500_000_000.0, "m2")
    assert got["180 cm"] == (1.8, "m")
    assert got["12 MUSD"] == (12_000_000.0, "usd")
    # kg joined the Mass.txt table in the unit-breadth pass: converts to g
    assert got["1,250 kg"] == (1_250_000.0, "g")
    assert got["3.5 km"] == (3500.0, "m")


def test_clean_numeric_multidot(spark):
    from mannheimsearchjoinsengine_spark.operators.fuse import clean_numeric

    df = spark.createDataFrame(
        [("1,234",), ("$3.14",), ("1.2.3",), ("abc12de.5",)], ["v"]
    )
    got = {r.v: r.c for r in df.select("v", clean_numeric(F.col("v")).alias("c")).collect()}
    # reference P15: strip non-[0-9.], collapse all dots but the last
    # (TableDataCleaner.normalizeColumnNumeric:167-180)
    assert got["1,234"] == "1234"
    assert got["$3.14"] == "3.14"
    assert got["1.2.3"] == "12.3"
    assert got["abc12de.5"] == "12.5"


def test_density_thresholds(spark):
    from mannheimsearchjoinsengine_spark.operators.fuse import column_density, row_density

    # 3 subjects; predicate p_all on every subject, p_one on a single one
    fused = spark.createDataFrame(
        [("s1", "p_all", "x"), ("s2", "p_all", "y"), ("s3", "p_all", "z"),
         ("s1", "p_one", "w")],
        ["query_norm", "pred_raw", "obj_raw"],
    )
    cd = {r.pred_raw: (r.coverage, r.kept) for r in column_density(fused).collect()}
    assert cd["p_all"] == (1.0, True)
    assert cd["p_one"] == (0.3333, True)  # 1/3 >= 0.3
    rd = {r.query_norm: r.kept for r in row_density(fused).collect()}
    assert rd == {"s1": True, "s2": True, "s3": True}


def test_identify_key_customer(spark, sf_dir):
    from mannheimsearchjoinsengine_spark.operators.profile import identify_key
    from mannheimsearchjoinsengine_spark.sources.transcripts import load_table

    res = {r.col_name: r for r in identify_key(load_table(spark, sf_dir, "customer")).collect()}
    # c_name is unique + contains 'name' -> elected key (TableKeyIdentifier rules)
    assert res["c_name"].is_key
    assert res["c_name"].uniqueness >= 0.6
    assert not res["c_mktsegment"].is_key  # low uniqueness segment labels


def test_evaluate_vs_gold(spark):
    from mannheimsearchjoinsengine_spark.operators.probe import evaluate_vs_gold

    ranked = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["conv_id"])
    gold = spark.createDataFrame([("a",), ("b",), ("e",)], ["conv_id"])
    m = evaluate_vs_gold(ranked, gold).collect()[0]
    assert (m.n_retrieved, m.n_gold, m.n_correct) == (4, 3, 2)
    assert m.precision == 0.5
    assert m.recall == 0.6667


def test_char_jaccard_golden(spark):
    from mannheimsearchjoinsengine_spark.functions.similarity import char_jaccard

    df = spark.createDataFrame([("night", "nacht"), ("abc", "abc"), ("ab", "cd")], ["a", "b"])
    got = [r.j for r in df.select(char_jaccard(F.col("a"), F.col("b"), 2).alias("j")).collect()]
    # night: {ni,ig,gh,ht}, nacht: {na,ac,ch,ht} -> 1/7
    assert got[0] == 0.1429
    assert got[1] == 1.0
    assert got[2] == 0.0


def test_salted_probe_equivalence(spark, sf_dir, spark_conf):
    """probe's unhinted join returns the same hits with broadcast disabled."""
    from mannheimsearchjoinsengine_spark.operators.extract import (
        extract_facts,
        extract_mentions,
    )
    from mannheimsearchjoinsengine_spark.operators.index import build_postings
    from mannheimsearchjoinsengine_spark.operators.probe import probe
    from mannheimsearchjoinsengine_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, sf_dir)
    facts = extract_facts(t).localCheckpoint()
    m = extract_mentions(t)
    p = build_postings(facts).localCheckpoint()
    cols = ["query_norm", "cand_norm", "matched_tokens", "n_query_tokens", "is_exact"]
    a = sorted(probe(m, p).select(cols).collect())
    with spark_conf({"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        shuffled = probe(m, p).select(cols)
        b = sorted(shuffled.collect())
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert a == b


def test_aqe_splits_hot_key_join(spark, spark_conf):
    """Skew in an unbroadcast equi-join is AQE's job: one hot key's shuffle
    partition is split, and the join still returns every row."""
    big = spark.createDataFrame(
        [("hot", i) for i in range(5000)] + [(f"k{i}", i) for i in range(200)],
        ["k", "v"],
    )
    small = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", "C") for i in range(200)], ["k", "tag"]
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "50",
    }
    with spark_conf(confs):
        out = big.join(small, "k")
        # AQE's final plan belongs to the QueryExecution the action ran on
        assert len(out.collect()) == 5200
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "skew=true" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from mannheimsearchjoinsengine_spark.operators.ann import brute_force_topk, ivf_topk
    from mannheimsearchjoinsengine_spark.sources.transcripts import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    iv = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, qs, k=5).collect()}
    recall = len(bf & iv) / len(bf)
    assert recall >= 0.3, f"IVF recall collapsed: {recall:.2f}"


def test_embedding_near_dup_lsh_recall(spark):
    """LSH-bucketed near-dup pairs on planted high-cosine duplicates: the
    LSH candidate set must be a subset of brute force (same τ filter) and
    recover most planted pairs (cos ≈ 0.99 ⇒ per-table collision prob
    (1-θ/π)^4 ≈ 0.88, four tables OR'd ⇒ ~1-(1-.88)^4)."""
    import numpy as np

    from mannheimsearchjoinsengine_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    rows = []
    for i in range(50):
        base = rng.normal(size=64)
        near = base + rng.normal(scale=0.02, size=64)  # cos ≈ 0.999
        rows.append((i * 2, [float(x) for x in base]))
        rows.append((i * 2 + 1, [float(x) for x in near]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bf = {(r.id1, r.id2) for r in
          embedding_near_dup_pairs(emb, tau=0.9, brute_force=True).collect()}
    ls = {(r.id1, r.id2) for r in embedding_near_dup_pairs(emb, tau=0.9).collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(50)}
    assert planted <= bf, "brute force must find every planted near-dup"
    assert ls <= bf, "LSH pairs must be a subset of brute force (same τ)"
    recall = len(ls & planted) / len(planted)
    assert recall >= 0.7, f"LSH near-dup recall collapsed: {recall:.2f}"


def test_ntriples_lines_golden(spark):
    from mannheimsearchjoinsengine_spark.operators.triplify import ntriples_lines

    triples = spark.createDataFrame(
        [("New Brightwater", "population", "1,234,567", "numeric", 0),
         ("Acme Corp", "website", "http://acme.example.com", "link", 1)],
        ["subj", "pred", "obj", "obj_dtype", "subj_bucket"],
    )
    lines = {r.ntriple for r in ntriples_lines(triples).collect()}
    for line in lines:
        # <subjURI> <predURI> "literal" .  (IO/Triplifier.java:116-159)
        assert line.startswith("<"), line
        assert line.endswith(" ."), line
        assert line.count("<") >= 2, line


def test_ngram_jaccard_df_cap_blocks_boilerplate(spark):
    """A boilerplate shingle shared by every doc must NOT drive the blocking
    self-join: k docs sharing only a hot shingle yield zero candidate pairs
    (was k² before the df-cap), while genuinely similar pairs keep their
    EXACT jaccard — hot shingles still count in the verify stage."""
    from mannheimsearchjoinsengine_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "copyright acme corp"
    # 20 docs: all share the boilerplate 3-gram; docs 0/1 also share a rare
    # 3-gram ("alpha beta gamma"), everything else pairwise-disjoint.
    rows = [(0, f"alpha beta gamma {boiler}"), (1, f"alpha beta gamma {boiler}")]
    rows += [(i, f"tok{i}a tok{i}b tok{i}c {boiler}") for i in range(2, 20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = ngram_jaccard_pairs(docs, n=3, df_cap=0.5).collect()
    pairs = {(r.doc1, r.doc2): (r.shared, r.jaccard) for r in capped}
    # only the planted similar pair survives blocking — no boilerplate k²
    assert set(pairs) == {(0, 1)}, pairs
    # verify stage uses FULL sets: docs 0/1 share 2 of their shingles each —
    # 'alpha beta gamma' + the boilerplate chain shingles.
    shared, jac = pairs[(0, 1)]
    uncapped = {
        (r.doc1, r.doc2): (r.shared, r.jaccard)
        for r in ngram_jaccard_pairs(docs, n=3, df_cap=None).collect()
    }
    assert uncapped[(0, 1)] == (shared, jac), "cap must not change scores"
    # uncapped blocking would have produced candidates for every pair
    assert len(uncapped) > len(pairs)


def test_two_digit_year_and_timestamp_goldens(spark):
    """Spark-side-only date formats (no DuckDB twin possible): the 2-digit
    year family uses SimpleDateFormat's 80/20 century window pinned at
    CENTURY_NOW_YEAR=2026 → window [1946, 2045] (DateUtil.java:49-57,77-80);
    the slashed 2-digit form is dd/MM/yy ONLY (no MM/dd/yy row). Timestamp
    formats parse strictly (no lenient rollover)."""
    import datetime

    from mannheimsearchjoinsengine_spark.operators.resolve import (
        parse_any_date,
        parse_any_timestamp,
    )

    date_goldens = {
        "03.07.94": datetime.date(1994, 7, 3),    # dd.MM.yy
        "01/02/45": datetime.date(2045, 2, 1),    # dd/MM/yy — NOT month-first
        "02-03-46": datetime.date(1946, 3, 2),    # dd-MM-yy, window edge low
        "07/45": datetime.date(2045, 7, 1),       # MM/yy, window edge high
        "12-26": datetime.date(2026, 12, 1),      # MM-yy
        "05 May 94": datetime.date(1994, 5, 5),   # dd MMMM yy (text family)
        "03-May-46": datetime.date(1946, 5, 3),
        "2026-01-02": datetime.date(2026, 1, 2),  # 4-digit cascade unaffected
        "04/05/1987": datetime.date(1987, 4, 5),  # MM/dd/yyyy priority intact
    }
    df = spark.createDataFrame([(v,) for v in date_goldens], ["v"])
    got = {
        r.v: r.d
        for r in df.select(
            "v", parse_any_date(F.col("v"), two_digit_years=True).alias("d")
        ).collect()
    }
    for v, want in date_goldens.items():
        assert got[v] == want, f"{v!r}: got {got[v]}, want {want}"

    ts_goldens = {
        "202601021530": datetime.datetime(2026, 1, 2, 15, 30),      # yyyyMMddHHmm
        "20260102 153045": datetime.datetime(2026, 1, 2, 15, 30, 45),
        "2026-01-02 15:30:45": datetime.datetime(2026, 1, 2, 15, 30, 45),
        "02 May 2026 15:30": datetime.datetime(2026, 5, 2, 15, 30),
        "03 May 2026 15:30:45.123456":
            datetime.datetime(2026, 5, 3, 15, 30, 45, 123456),
        "13/02/2026 10:00": None,  # MM/dd/yyyy HH:mm strict: month 13 fails
        "nonsense": None,
    }
    df2 = spark.createDataFrame([(v,) for v in ts_goldens], ["v"])
    got2 = {
        r.v: r.t
        for r in df2.select("v", parse_any_timestamp(F.col("v")).alias("t")).collect()
    }
    for v, want in ts_goldens.items():
        assert got2[v] == want, f"{v!r}: got {got2[v]}, want {want}"


def test_greedy_marriage_chains(spark):
    """Adversarial chain shapes for greedy_marriage: (a) an equal-score
    chain of 40 edges drains in ONE round under the deterministic
    (score, pred1, pred2) tie-break (no round exhaustion); (b) a strictly
    DESCENDING-score chain needs ~E/2 rounds — the max_rounds=32 headroom —
    and reproduces sequential greedy matching exactly."""
    from mannheimsearchjoinsengine_spark.operators.match import greedy_marriage

    nodes = [f"a{i:02d}" for i in range(41)]
    # (a) equal scores: expected matching = every odd edge
    eq = spark.createDataFrame(
        [(nodes[i], nodes[i + 1], 1.0) for i in range(40)],
        ["pred1", "pred2", "avg_sim"],
    )
    want = {(nodes[i], nodes[i + 1]) for i in range(0, 40, 2)}
    desc = spark.createDataFrame(
        [(nodes[i], nodes[i + 1], float(40 - i)) for i in range(40)],
        ["pred1", "pred2", "avg_sim"],
    )
    # driver fast path (default) and the distributed locally-dominant-edge
    # fixpoint (driver_threshold=0) must produce the IDENTICAL matching —
    # the fixpoint ≡ sequential greedy under the same strict total order
    for kw in ({}, {"driver_threshold": 0}):
        got = {(r.pred1, r.pred2) for r in greedy_marriage(eq, **kw).collect()}
        assert got == want, kw
        # (b) descending scores: sequential greedy accepts the same odd
        # edges but the distributed form needs ~20 rounds — must NOT
        # exhaust max_rounds
        got2 = {(r.pred1, r.pred2) for r in greedy_marriage(desc, **kw).collect()}
        assert got2 == want, kw


def test_wordnet_label_scores(spark):
    """F7 plug-in (reference ships it disabled, searchJoins.conf:67-69):
    matchStrings cascade over a provided lexicon DataFrame. Pins the
    reference's dead-code quirk — equal in-dictionary labels score
    synsetMatch (2.0), equal out-of-dictionary labels 2.2, never the
    nominal WORDNET_EXACT_MATCH_SCORE=5."""
    from mannheimsearchjoinsengine_spark.operators.wordnet import wordnet_label_scores

    lex = spark.createDataFrame(
        [
            ("population", "s:population.n.01", 1),
            ("inhabitants", "s:population.n.01", 1),
            ("population", "h:group.n.01", 2),
            ("capital", "s:capital.n.01", 1),
            ("capital", "h:city.n.01", 2),
            ("city", "s:city.n.01", 1),
            ("city", "h:city.n.01", 2),  # shared hyper tier with capital
        ],
        ["word", "related", "tier"],
    )
    pairs = spark.createDataFrame(
        [
            ("population", "inhabitants"),  # synonym tier → price 2
            ("population", "population"),   # equal + in dict → 2.0 (dead 5)
            ("motto", "motto"),             # equal, not in dict → 2.2
            ("capital", "city"),            # hypernym tier → price 2
            ("hq", "headquarters"),         # <3 chars → 0
            ("motto", "slogan"),            # nothing → price 1
        ],
        ["label1", "label2"],
    )
    rows = {
        (r.label1, r.label2): (r.price, r.wn_score)
        for r in wordnet_label_scores(pairs, lex).collect()
    }
    assert rows[("population", "inhabitants")][0] == 2.0
    assert rows[("population", "population")] == (2.0, 2.0)   # jaccard 1 × 2
    assert rows[("motto", "motto")] == (2.2, 2.2)             # jaccard 1 × 2.2
    assert rows[("capital", "city")][0] == 2.0
    assert rows[("hq", "headquarters")] == (0.0, 0.0)
    assert rows[("motto", "slogan")][0] == 1.0
    # the reference multiplies price by char-2-4-gram jaccard (:182-185),
    # so a synonym pair with NO shared character grams still scores 0 —
    # quirk replicated, price carries the synset evidence separately
    assert rows[("population", "inhabitants")][1] == 0.0


def test_infogather_tsp_matches_numpy_refimpl(spark):
    """J9 (QueryProcessor.java:42-317 re-expressed): DMA seeds, beta
    normalization, and the 4-iteration personalized-PageRank on a
    hand-built 4-conversation graph, cross-checked against a dense numpy
    power iteration; plus the Q3 augment winner selection."""
    import numpy as np

    from mannheimsearchjoinsengine_spark.operators import infogather

    facts = spark.createDataFrame(
        [
            ("A", "x", "p", "v1"), ("A", "x", "q", "o"),
            ("B", "x", "q", "o"), ("B", "y", "q", "o"),
            ("C", "y", "p", "v2"), ("C", "z", "q", "o"),
            ("D", "z", "q", "o"),
        ],
        "conv_id string, subj_norm string, pred_raw string, obj_raw string",
    )
    mentions = spark.createDataFrame([("x",), ("y",)], "subj_norm: string")

    got = {
        r.conv_id: r.tsp
        for r in infogather.relevant_tsp(facts, mentions, attribute="p")
        .select("conv_id", F.round("tsp", 6).alias("tsp"))
        .collect()
    }

    # dense refimpl: nodes A,B,C,D; edges A-B, B-C, C-D with shared=1;
    # row-stochastic weights; seeds A,C with beta 0.5 each (overlap 1,
    # min(n_q=2, n_rows)=2 -> dma 0.5, normalized)
    idx = {"A": 0, "B": 1, "C": 2, "D": 3}
    W = np.zeros((4, 4))
    for u, v in [("A", "B"), ("B", "A"), ("B", "C"), ("C", "B"), ("C", "D"), ("D", "C")]:
        W[idx[u], idx[v]] = 1.0
    W = W / W.sum(axis=1, keepdims=True)
    beta = np.array([0.5, 0.0, 0.5, 0.0])
    s = beta.copy()
    for _ in range(4):
        s = 0.15 * beta + 0.85 * (W.T @ s)
    want = {c: round(float(s[i]), 6) for c, i in idx.items() if c in {"A", "B", "C"}}
    assert got == want  # D shares no query key -> not relevant

    aug = {
        (r.subj_norm): (r.obj_raw, r.score)
        for r in infogather.augment_by_attribute(facts, mentions, "p").collect()
    }
    assert aug["x"][0] == "v1" and aug["y"][0] == "v2"
    assert aug["x"][1] == round(float(s[idx["A"]]), 6)


def test_infogather_hub_cap_bounds_pair_blowup(spark):
    """The absolute per-key df cap bounds the graph build's pair blowup:
    a planted hub subject that PASSES the fractional df-cap (df = 8 of 24
    conversations, well under the 50% stopword tier) still may not emit
    its df² = 56 self-join edges once df_abs_cap < df — and the dropped
    hub is visible as a hub_keys metrics row, not silent."""
    from mannheimsearchjoinsengine_spark.operators import infogather

    rows = []
    for i in range(24):
        if i < 8:
            rows.append((f"c{i:02d}", "hub", "p", "v"))
        # sparse chain keys: k{j} shared by exactly convs (2j, 2j+1)
        rows.append((f"c{i:02d}", f"k{i // 2:02d}", "p", "v"))
    facts = spark.createDataFrame(
        rows, "conv_id string, subj_norm string, pred_raw string, obj_raw string"
    )
    keys = infogather.conv_key_sets(facts)

    # metrics surface: only the hub trips the absolute cap
    dropped = {
        (r.subj_norm, r.df)
        for r in infogather.hub_keys(keys, df_cap=0.5, df_abs_cap=5).collect()
    }
    assert dropped == {("hub", 8)}
    # ... and nothing trips either cap at the default K (fractional bound
    # here is floor(0.5·24)+1 = 13 ≥ every df)
    assert infogather.hub_keys(keys, df_cap=0.5, df_abs_cap=1000).isEmpty()

    uncapped = infogather.conv_graph(facts, df_cap=0.5, df_abs_cap=None)
    capped = infogather.conv_graph(facts, df_cap=0.5, df_abs_cap=5)
    # 12 chain keys × 2 ordered edges = 24; the hub adds 8·7 = 56 ordered
    # pairs among c00..c07, 8 of which coincide with chain edges
    assert uncapped.count() == 24 + 56 - 8
    assert capped.count() == 24
    # capped edges are exactly the chain pairs — no hub quadratics
    pairs = {(r.src, r.dst) for r in capped.collect()}
    want = set()
    for j in range(12):
        want |= {(f"c{2 * j:02d}", f"c{2 * j + 1:02d}"), (f"c{2 * j + 1:02d}", f"c{2 * j:02d}")}
    assert pairs == want
