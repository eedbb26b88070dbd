"""WNDB lexicon builder goldens (WordnetAPI.java:45-123 parity).

The fixture is a hand-written ~26-lemma WNDB pair (`index.noun` +
`data.noun` per the public wndb(5WN) format) covering: first-sense-only
resolution, multi-word (incl. three-word) and hyphenated lemmas, `@`/`~`
pointer tiers, the `@i`/`~i` instance pointers (which JWI's
Pointer.HYPERNYM/HYPONYM do NOT follow), mixed pointer blocks with
semantic (`%p`) and lexical (`!`, non-0000 source/target) pointers that
must be consumed but not followed, multi-hypernym synsets, pointer-free
synsets, and dangling second senses. The last test drives the builder
through the spark-submit entry point's --wordnet-dir flag.
"""

from __future__ import annotations

import pytest

from mannheimsearchjoinsengine_spark.operators.wordnet_build import (
    build_lexicon_from_dict_dir,
    lexicon_rows,
)

_DATA_NOUN = """\
  1 This software and database is being provided to you, the LICENSEE.
00001740 03 n 01 entity 0 001 ~ 00002000 n 0000 | that which exists
00002000 03 n 02 group 0 grouping 0 003 @ 00001740 n 0000 ~ 00003000 n 0000 ~ 00004000 n 0000 | a set
00003000 14 n 02 population 0 universe 0 001 @ 00002000 n 0000 | people
00004000 14 n 01 citizenry 0 001 @ 00002000 n 0000 | citizens
00005000 15 n 02 municipality 0 territory 1 001 ~ 00006000 n 0000 | a district
00006000 15 n 02 city 0 metropolis 0 002 @ 00005000 n 0000 ~ 00007000 n 0000 | a large town
00007000 15 n 02 national_capital 0 capital 0 001 @ 00006000 n 0000 | seat of government
00008000 21 n 01 working-capital 0 001 @ 00009000 n 0000 | assets
00009000 21 n 01 asset 0 001 ~ 00008000 n 0000 | a useful thing
00010000 06 n 02 motto 0 slogan 0 000 | a phrase
00011000 17 n 01 earth 0 001 @i 00012000 n 0000 | the instance pointer must be ignored
00012000 17 n 01 planet 0 000 | a planet
00013000 18 n 01 senator 0 004 @ 00014000 n 0000 ~i 00015000 n 0000 %p 00016000 n 0000 ! 00014000 n 0101 | mixed pointer block: only @ followed
00014000 18 n 01 legislator 0 001 ~ 00013000 n 0000 | maker of laws
00015000 18 n 01 veteran_senator 0 000 | an instance
00016000 18 n 01 senate_seat 0 000 | a part
00017000 15 n 01 new_york_city 0 002 @ 00006000 n 0000 @ 00005000 n 0000 | three-word lemma, TWO hypernym pointers
00018000 15 n 02 conurbation 0 urban_sprawl 0 002 ~i 00017000 n 0000 ~ 00006000 n 0000 | instance hyponym excluded, regular followed
"""

_INDEX_NOUN = """\
  1 This software and database is being provided to you, the LICENSEE.
asset n 1 1 ~ 1 0 00009000
capital n 2 1 @ 2 1 00007000 00008000
citizenry n 1 1 @ 1 0 00004000
city n 1 2 @ ~ 1 1 00006000
conurbation n 1 2 ~ ~i 1 0 00018000
earth n 1 1 @i 1 0 00011000
entity n 1 1 ~ 1 0 00001740
legislator n 1 1 ~ 1 0 00014000
new_york_city n 1 1 @ 1 0 00017000
senate_seat n 1 0 1 0 00016000
senator n 1 4 @ ~i %p ! 1 0 00013000
urban_sprawl n 1 2 ~ ~i 1 0 00018000
veteran_senator n 1 0 1 0 00015000
group n 2 2 @ ~ 2 1 00002000 00099999
grouping n 1 2 @ ~ 1 0 00002000
metropolis n 1 2 @ ~ 1 0 00006000
motto n 1 0 1 0 00010000
municipality n 1 1 ~ 1 0 00005000
national_capital n 1 1 @ 1 0 00007000
planet n 1 0 1 0 00012000
population n 2 1 @ 2 1 00003000 00004000
slogan n 1 0 1 0 00010000
territory n 1 1 ~ 1 0 00005000
universe n 1 1 @ 1 0 00003000
working-capital n 1 1 @ 1 0 00008000
"""


@pytest.fixture()
def dict_dir(tmp_path):
    (tmp_path / "index.noun").write_text(_INDEX_NOUN)
    (tmp_path / "data.noun").write_text(_DATA_NOUN)
    return str(tmp_path)


def _tiers(rows, word):
    out = {1: set(), 2: set(), 3: set()}
    for w, r, t in rows:
        if w == word:
            out[t].add(r)
    return out


def test_lexicon_rows_golden(dict_dir):
    rows = list(lexicon_rows(dict_dir + "/index.noun", dict_dir + "/data.noun"))

    # first sense only: population's 2nd sense (citizenry's synset) ignored
    assert _tiers(rows, "population") == {
        1: {"population", "universe"},
        2: {"group", "grouping"},
        3: set(),
    }
    # multi-word lemma: underscore becomes a space in word key AND lemmas
    assert _tiers(rows, "capital") == {
        1: {"national capital", "capital"},
        2: {"city", "metropolis"},
        3: set(),
    }
    assert _tiers(rows, "national capital")[1] == {"national capital", "capital"}
    # hyphen kept in the word key (JWI lookup form) but cleaned in lemmas
    assert _tiers(rows, "working-capital") == {
        1: {"working capital"},
        2: {"asset"},
        3: set(),
    }
    # both pointer directions
    assert _tiers(rows, "city") == {
        1: {"city", "metropolis"},
        2: {"municipality", "territory"},
        3: {"national capital", "capital"},
    }
    assert _tiers(rows, "entity")[3] == {"group", "grouping"}
    # '@i' instance hypernym NOT followed (JWI Pointer.HYPERNYM is '@' only)
    assert _tiers(rows, "earth") == {1: {"earth"}, 2: set(), 3: set()}
    # pointer-free synset
    assert _tiers(rows, "motto") == {1: {"motto", "slogan"}, 2: set(), 3: set()}
    # rows are distinct
    assert len(rows) == len(set(rows))


def test_extended_pointer_forms(dict_dir):
    """Round-5 fixture extension: mixed pointer blocks (semantic `%p`,
    lexical `!` with non-0000 source/target — 4 fields each, skipped but
    consumed), the `~i` instance-hyponym exclusion, multiple `@` hypernyms
    on one synset, and a three-word lemma."""
    rows = list(lexicon_rows(dict_dir + "/index.noun", dict_dir + "/data.noun"))

    # mixed pointer block: @ followed; ~i / %p / ! all skipped but their
    # 4-field groups consumed (a mis-parse would shift every later field)
    assert _tiers(rows, "senator") == {1: {"senator"}, 2: {"legislator"}, 3: set()}
    # regular ~ back-pointer still collected on the target side
    assert _tiers(rows, "legislator") == {
        1: {"legislator"},
        2: set(),
        3: {"senator"},
    }
    # three-word lemma key + TWO @ pointers -> union of both hypernym synsets
    assert _tiers(rows, "new york city") == {
        1: {"new york city"},
        2: {"city", "metropolis", "municipality", "territory"},
        3: set(),
    }
    # ~i instance hyponym NOT followed; the regular ~ next to it is
    assert _tiers(rows, "conurbation") == {
        1: {"conurbation", "urban sprawl"},
        2: set(),
        3: {"city", "metropolis"},
    }


def test_built_lexicon_drives_label_scores(spark, dict_dir):
    """End-to-end: the built lexicon through the F7 matchStrings cascade."""
    from mannheimsearchjoinsengine_spark.operators.wordnet import wordnet_label_scores

    lex = build_lexicon_from_dict_dir(spark, dict_dir)
    pairs = spark.createDataFrame(
        [
            # extended lists share 'group'/'grouping' via the common hypernym
            ("population", "citizenry"),
            # tier-1 of capital contains 'city'? no — but capital's hypernyms
            # {city, metropolis} intersect city's synset members
            ("capital", "city"),
            # in-dict, no shared relations at any tier
            ("motto", "planet"),
            # equal + out of dictionary -> 2.2 (dead-5 quirk)
            ("continent", "continent"),
        ],
        ["label1", "label2"],
    )
    got = {
        (r.label1, r.label2): r.price
        for r in wordnet_label_scores(pairs, lex).collect()
    }
    assert got[("population", "citizenry")] == 2.0
    assert got[("capital", "city")] == 2.0
    assert got[("motto", "planet")] == 1.0
    assert got[("continent", "continent")] == 2.2


def test_run_pipeline_wordnet_dir_flag(spark, sf_dir, dict_dir, tmp_path, capsys):
    """--wordnet-dir wires the WNDB builder through the spark-submit entry
    point: the summary JSON gains wordnet_pairs and --wordnet-scores-output
    lands a (label1, label2, price, wn_score) parquet."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_job",
        os.path.join(os.path.dirname(__file__), os.pardir, "jobs", "run_pipeline.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    out = str(tmp_path / "wn_scores")
    rc = job.main(
        [
            "--sf-dir", sf_dir,
            "--wordnet-dir", dict_dir,
            "--wordnet-scores-output", out,
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["triples"] > 0
    # n predicates -> n*(n+1)/2 ordered pairs (label1 <= label2)
    n_preds = summary["wordnet_pairs"]
    written = spark.read.parquet(out)
    assert written.count() == n_preds
    assert set(written.columns) == {"label1", "label2", "price", "wn_score"}
