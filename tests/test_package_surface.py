"""The package holds what the engine runs: every public module-level
def or class in ``amazon_personalize_connectors_spark`` must be used
by the engine itself — another package module, ``__spark_entry__.py``,
``bench.py``, ``tools/`` or ``perfbench/``. A def that only tests use
is test surface: delete it with its tests, or move it into ``tests/``.

The scan is Spark-free. A "use" is any name, attribute, imported name
or identifier-shaped string constant (query registries list names as
strings) outside the def itself. ``KEEP`` lists the defs that stay
although only tests call them, each with its reason."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "amazon_personalize_connectors_spark"
ENGINE = [PACKAGE, "__spark_entry__.py", "bench.py", "tools", "perfbench"]

KEEP = {
    # store maintenance and read APIs: an operator runs them out of band
    "gc_store": "epoch_store garbage collection of superseded versions",
    "prune_snapshots": "cdc_sink retention: drops snapshots past a horizon",
    "adopt_store": "epoch_store hand-over of a store to a new checkpoint",
    "compact_state_digests": "digest store compaction (merges run files)",
    "compact_dataset": "small-files compaction of streaming sink output",
    "read_snapshot": "cdc_sink point-in-time read of a committed version",
    "read_item_state": "model_refresh read of the served item state",
    "stream_apply_changes": "cdc_sink streaming entry point (foreachBatch)",
    # SURVEY §2 rows the engine reproduces as library surface
    "incremental_pipeline_run": "SURVEY §2 T3: incremental pipeline run",
    "filter_by_source_file": "SURVEY §2 F8: the enqueue KEY_MATCH gate",
    "QueueTransport": "SURVEY §2 K3: the SQS batch-entry transport",
    # reference forms the tests compare the engine's fast forms against
    "simhash16": "row-wise reference for the blocked simhash",
    "minhash_signature": "reference MinHash for the banded LSH form",
    "zorder_unkey": "inverse of zorder_key for the round-trip test",
}


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if path.endswith(".py"):
        yield path
        return
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _public_defs():
    """{name: file} for module-level public defs and classes."""
    out = {}
    for path in _py_files(PACKAGE):
        tree = ast.parse(open(path).read(), path)
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out[node.name] = os.path.relpath(path, ROOT)
    return out


def _uses(paths):
    """Every identifier the files use, outside the defs' own names."""
    names = set()
    for path in paths:
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value.isidentifier():
                    names.add(node.value)
    return names


def _engine_uses():
    return _uses(p for rel in ENGINE for p in _py_files(rel))


def test_no_public_def_is_test_only():
    engine = _engine_uses()
    test_only = {
        name: path
        for name, path in _public_defs().items()
        if name not in engine and name not in KEEP
    }
    assert not test_only, (
        "public defs the engine never uses (delete them with their tests, "
        f"move them into tests/, or add them to KEEP with a reason): {test_only}"
    )


def test_keep_list_is_current():
    """Every KEEP entry is still a public def the engine does not use,
    so the list cannot outlive what it excuses."""
    defs = _public_defs()
    engine = _engine_uses()
    stale = sorted(n for n in KEEP if n not in defs or n in engine)
    assert not stale, f"KEEP entries that no longer need an exemption: {stale}"
