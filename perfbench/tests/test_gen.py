"""Seeded generator: determinism, catalog width, datagen left untouched."""

from mannheimsearchjoinsengine_spark import datagen
from mannheimsearchjoinsengine_spark.refimpl import oracle
from perfbench import gen


def test_same_seed_same_table_other_seed_other_table():
    a, b, c = gen.generate(5, 600), gen.generate(5, 600), gen.generate(6, 600)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.num_rows >= 600


def test_datagen_constants_restored():
    before = (datagen.SEED, list(datagen.CITY_PRE), list(datagen.COMPANY_BASE))
    gen.generate(9, 300, entities=3_000)
    assert (datagen.SEED, datagen.CITY_PRE, datagen.COMPANY_BASE) == before


def test_widened_catalog_size_and_tokens():
    lists = gen.widened_name_lists(3_000, seed=1)
    pairs = [("CITY_PRE", "CITY_SUF"), ("PERSON_FIRST", "PERSON_LAST"), ("COMPANY_BASE", "COMPANY_SUF")]
    assert sum(len(lists[a]) * len(lists[b]) for a, b in pairs) == 3_000
    tokens = [t.lower() for toks in lists.values() for t in toks]
    assert len(tokens) == len(set(tokens))
    assert all(t.isalpha() for t in tokens)


def test_widened_input_keeps_extract_contract(tmp_path):
    path = gen.ensure_input(str(tmp_path), 3, 800, entities=3_000)
    assert gen.ensure_input(str(tmp_path), 3, 800, entities=3_000) == path
    facts = oracle.extract_facts(path)
    # every assistant turn yields one fact and every tool turn two
    assert len(facts) > 0.7 * 800
    stock = {
        t.lower()
        for name in ("CITY_PRE", "CITY_SUF", "PERSON_FIRST", "PERSON_LAST",
                     "COMPANY_BASE", "COMPANY_SUF")
        for t in getattr(datagen, name)
    }
    subjects = {t[0] for t in oracle.triples(path, fuzzy=True)}
    assert any(set(s.lower().split()) - stock - {"city", "jr", "inc"} for s in subjects)
