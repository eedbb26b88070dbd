"""Transcript synthesizer: determinism, schema, grammar, skew shape."""

from __future__ import annotations

import re

from mannheimsearchjoinsengine_spark.datagen import generate_transcripts


def test_deterministic():
    a = generate_transcripts(600)
    b = generate_transcripts(600)
    assert a.equals(b)


def test_schema_and_grammar():
    t = generate_transcripts(600).to_pylist()
    assert {r["role"] for r in t} == {"user", "assistant", "tool"}
    assist = re.compile(r"^The ([a-z_]+) of (.+?) is (.+)\.$")
    for r in t:
        if r["role"] == "assistant":
            assert assist.match(r["text"]), r["text"]
            assert r["tool"] is None
        elif r["role"] == "tool":
            assert r["tool"] in ("search", "lookup", "calc")
            kvs = r["text"].split("; ")
            assert kvs[0].startswith("entity=")
            assert all("=" in kv for kv in kvs)
        else:
            assert r["text"].endswith((".", "?"))
    # turn_idx dense per conversation, ts strictly increasing globally
    by_conv = {}
    last_ts = None
    for r in t:
        by_conv.setdefault(r["conv_id"], []).append(r["turn_idx"])
        if last_ts is not None:
            assert r["ts"] > last_ts
        last_ts = r["ts"]
    for idxs in by_conv.values():
        assert idxs == list(range(len(idxs)))


def test_skew_long_conversation():
    t = generate_transcripts(2000).to_pylist()
    sizes = {}
    for r in t:
        sizes[r["conv_id"]] = sizes.get(r["conv_id"], 0) + 1
    assert max(sizes.values()) >= 60  # the designated hot conversation


def test_default_paths_under_the_checkout(tmp_path):
    """The generated-data directory and the default checkpoint root resolve
    from the imported package's own location, not from a fixed path; the
    data directory still follows SJSPARK_DATA_DIR when it is set. A package
    imported from a ``--py-files`` zip uses the working directory."""
    import os
    import shutil
    import subprocess
    import sys

    import mannheimsearchjoinsengine_spark as pkg

    checkout = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    probe = (
        "from mannheimsearchjoinsengine_spark import datagen\n"
        "from mannheimsearchjoinsengine_spark.plans.pipeline import default_checkpoint_root\n"
        "print(datagen.REPO_DATA)\n"
        "print(default_checkpoint_root('/any/sf0.001'))\n"
    )

    def run(env):
        out = subprocess.run(
            [sys.executable, "-c", probe], env=env, cwd=str(tmp_path),
            capture_output=True, text=True, check=True,
        )
        return out.stdout.split()

    env = {k: v for k, v in os.environ.items() if k != "SJSPARK_DATA_DIR"}
    env["PYTHONPATH"] = checkout
    data_dir, ckpt_root = run(env)
    assert data_dir == os.path.join(checkout, "data", "transcripts")
    assert ckpt_root == os.path.join(checkout, "data", "checkpoints", "sf0.001")
    override = str(tmp_path / "elsewhere")
    assert run({**env, "SJSPARK_DATA_DIR": override})[0] == override
    archive = shutil.make_archive(
        str(tmp_path / "pkg"), "zip", checkout, "mannheimsearchjoinsengine_spark"
    )
    zipped_data_dir = run({**env, "PYTHONPATH": archive})[0]
    assert zipped_data_dir == os.path.join(str(tmp_path), "data", "transcripts")
