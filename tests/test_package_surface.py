"""Package surface: every public top-level def and class is reached by an
entry point, so dead helpers cannot quietly regrow.

The entry points are the package itself (the ``cli`` modes and the
``queries`` registry live in it), ``__spark_entry__.py``, ``perfbench/``,
``bench*.py`` and ``tools/``. A name counts as referenced when one of
those files uses it outside its own definition: as a name, an
attribute, an import, or a string equal to it (``perfbench/run.py:
patch_layers`` looks functions up by string). ``@register``-decorated
query functions are reached through the registry. Tests do not count:
a function only its own tests call is dead code with a test.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "clickhouse_only_importer_prototype_spark"

# Names no entry point reaches that a test still needs, each with the
# test (or the reference role) that needs it.
ALLOWED = {
    # reference of the by-variant ranking test
    "topk_ranking_quality": "tests/test_similarity.py",
    # recall audit of the ANN variants
    "topk_recall": "tests/test_similarity.py, tests/test_similarity_variants.py",
    # test input generators of the multimodal rows
    "synthetic_media": "tests/test_multimodal.py",
    "encode_bmp": "tests/test_multimodal.py",
    "encode_wav": "tests/test_multimodal.py",
    "encode_avi": "tests/test_multimodal.py (byte-identity of the AVI readers)",
    # tested library helpers no entry point calls yet
    "extract_features": "tests/test_multimodal.py",
    "frame_sample_plan": "tests/test_multimodal.py",
    "resize_images": "tests/test_multimodal.py",
    "unpersist_span_stats": "tests/test_text_ops.py",
    "write_training_shards": "tests/test_sinks.py (the shard_assignment hash)",
    "sliding_user_activity": "tests/test_streaming.py",
    "dedup_stream_within_watermark": "tests/test_streaming_dedup.py",
    "merge_sink": "tests/test_streaming_upsert.py",
}


def _entry_files():
    yield from PKG.rglob("*.py")
    yield ROOT / "__spark_entry__.py"
    yield from ROOT.glob("bench*.py")
    for d in ("perfbench", "tools"):
        yield from (p for p in (ROOT / d).rglob("*.py") if "tests" not in p.parts)


def _ref_name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rpartition(".")[2]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value if node.value.isidentifier() else None
    return None


def _is_registered(node) -> bool:
    return any(
        isinstance(d, ast.Name) and d.id == "register"
        for d in (
            dec.func if isinstance(dec, ast.Call) else dec
            for dec in node.decorator_list
        )
    )


def _surface():
    """(public defs as (file, node), name -> [(file, line)] references)."""
    defs, refs = [], {}
    for path in _entry_files():
        tree = ast.parse(path.read_text(), str(path))
        if path.is_relative_to(PKG):
            defs += [
                (path, node)
                for node in tree.body
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and not node.name.startswith("_")
            ]
        for node in ast.walk(tree):
            name = _ref_name(node)
            if name:
                refs.setdefault(name, []).append(
                    (path, getattr(node, "lineno", 0))
                )
    return defs, refs


def test_every_public_def_is_reached_by_an_entry_point():
    defs, refs = _surface()
    dead = sorted(
        f"{path.relative_to(ROOT)}:{node.name}"
        for path, node in defs
        if node.name not in ALLOWED
        and not _is_registered(node)
        and not any(
            not (f == path and node.lineno <= line <= node.end_lineno)
            for f, line in refs.get(node.name, [])
        )
    )
    assert not dead, (
        "public defs no entry point reaches (delete them, or allowlist"
        f" one with the test that needs it): {dead}"
    )
    defined = {node.name for _, node in defs}
    assert set(ALLOWED) <= defined, sorted(set(ALLOWED) - defined)
