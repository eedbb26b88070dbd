"""Seeded transcript inputs for the benchmark.

Reuses ``datagen``'s entity fact rules and turn grammar unchanged, so the
extract contract and ``refimpl.oracle`` hold for every generated file. Two
things differ from ``datagen.ensure_transcripts``:

* the RNG seed is a parameter (datagen pins ``SEED = 42``), and
* the entity catalog can be widened past the stock 150 entities by adding
  synthetic name tokens to datagen's name-token lists (each class is a
  first-token × second-token product, as in datagen).

Both are applied by swapping datagen's module constants for the duration of
one ``generate_transcripts`` call and restoring them afterwards.
"""

from __future__ import annotations

import os
import random
import tempfile
from contextlib import contextmanager

import pyarrow.parquet as pq

from mannheimsearchjoinsengine_spark import datagen

STOCK_ENTITIES = 150
_NAME_LISTS = (
    ("CITY_PRE", "CITY_SUF"),
    ("PERSON_FIRST", "PERSON_LAST"),
    ("COMPANY_BASE", "COMPANY_SUF"),
)
_PATCHED = ("SEED",) + tuple(n for pair in _NAME_LISTS for n in pair)
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _new_tokens(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    """``n`` distinct capitalised pseudo-words not in ``taken`` (lower-case).
    Purely alphabetic, so normalization keeps each one a single token."""
    out = []
    while len(out) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in taken:
            taken.add(w)
            out.append(w.capitalize())
    return out


def widened_name_lists(entities: int, seed: int) -> dict[str, list[str]]:
    """Name-token lists giving about ``entities`` entities (three classes).

    The second-token lists stay stock (5 each); the first-token lists grow,
    so every added entity shares its second token with many others — the
    same token-overlap shape the fuzzy tier sees on the stock catalog."""
    lists = {n: list(getattr(datagen, n)) for pair in _NAME_LISTS for n in pair}
    taken = {t.lower() for toks in lists.values() for t in toks}
    rng = random.Random(seed * 7919 + 17)
    per_class = max(entities // 3, 1)
    for first, second in _NAME_LISTS:
        need = -(-per_class // len(lists[second])) - len(lists[first])
        if need > 0:
            lists[first] += _new_tokens(rng, need, taken)
    return lists


@contextmanager
def _datagen_params(seed: int, entities: int):
    saved = {n: getattr(datagen, n) for n in _PATCHED}
    try:
        datagen.SEED = seed
        if entities > STOCK_ENTITIES:
            for name, toks in widened_name_lists(entities, seed).items():
                setattr(datagen, name, toks)
        yield
    finally:
        for n, v in saved.items():
            setattr(datagen, n, v)


def generate(seed: int, turns: int, entities: int = STOCK_ENTITIES):
    """Arrow transcript table of at least ``turns`` turns; same arguments,
    same table."""
    with _datagen_params(seed, entities):
        return datagen.generate_transcripts(turns)


def ensure_input(cache_dir: str, seed: int, turns: int, entities: int = STOCK_ENTITIES) -> str:
    """Path of the parquet file for (seed, turns, entities), generated on
    first use. Written to a temporary name and renamed, so a killed run never
    leaves a partial file under the final name."""
    name = f"v{datagen.DATAGEN_VERSION}_s{seed}_t{turns}_e{entities}.parquet"
    path = os.path.join(cache_dir, name)
    if os.path.exists(path):
        return path
    os.makedirs(cache_dir, exist_ok=True)
    table = generate(seed, turns, entities)
    fd, tmp = tempfile.mkstemp(dir=cache_dir, prefix=".tmp", suffix=".parquet")
    os.close(fd)
    try:
        pq.write_table(table, tmp, row_group_size=datagen.ROW_GROUP_SIZE)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return path

