"""Expected triples from ``refimpl.oracle``, computed once per input.

The pure-Python oracle costs seconds per 100k turns, so its result is kept
as JSON next to the generated inputs, keyed by the input file's bytes, the
oracle's source and the fuzzy flag. Editing the oracle or regenerating an
input therefore changes the key and recomputes.
"""

from __future__ import annotations

import hashlib
import json
import os

from mannheimsearchjoinsengine_spark.refimpl import oracle


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def cache_key(input_path: str, fuzzy: bool) -> str:
    return hashlib.sha256(
        f"{_digest(input_path)}:{_digest(oracle.__file__)}:{int(fuzzy)}".encode()
    ).hexdigest()[:32]


def expected_triples(input_path: str, fuzzy: bool, cache_dir: str) -> set[tuple[str, str, str, str]]:
    path = os.path.join(cache_dir, f"oracle_{cache_key(input_path, fuzzy)}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {tuple(t) for t in json.load(f)}
    triples = oracle.triples(input_path, fuzzy=fuzzy)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(triples), f)
    os.replace(tmp, path)
    return triples
