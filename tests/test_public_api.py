"""Every top-level package function or class has a caller outside
``tests/`` — or an allowlist entry here that says why it is public API.
Every ``EngineConfig`` field is read as ``CFG.<field>`` outside ``tests/``.

A reference counts when the name appears as an identifier (a name, an
attribute or an import) in any Python file of the repository outside a
``tests`` directory, including the defining module itself.
"""

from __future__ import annotations

import ast
import dataclasses
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "topo_descriptors_spark"

# "<module path inside the package>.<name>": reason it is public API
ALLOWLIST = {
    "functions.naming.dem_name": "reference output name",
    "functions.naming.tpi_name": "reference output name",
    "functions.naming.std_name": "reference output name",
    "functions.naming.valley_ridge_names": "reference output names",
    "functions.naming.gradient_names": "reference output names",
    "functions.naming.sx_name": "reference output name",
    "functions.validate.check_table": "the reference's check_dem",
    "functions.planner.get_sigmas": "the reference's get_sigmas",
    "functions.planner.scale_to_pixel": "the reference's scale_to_pixel",
    "functions.kernels.tpi_grid": "numpy reference the TPI tile kernel is tested against",
    "functions.kernels.std_grid": "numpy reference the STD tile kernel is tested against",
    "functions.kernels.gradient_grid": "numpy reference the gradient tile kernel is tested against",
    "functions.kernels.valley_ridge_grid": (
        "numpy reference the valley/ridge tile kernel is tested against"
    ),
    "sources.io.scan_values": "the reference's min-elevation floor rule",
    "sources.io.crop_with_halo": "the reference's crop rule",
    "sources.synthetic.series": "fixture F4",
    "sources.synthetic.asof_queries": "fixture F5, used by tests/test_asof.py",
    "sources.snapshots.expire_snapshots": "table maintenance action",
    "sources.snapshots.read_incremental": "table incremental-read action",
    "sources.snapshots.rewrite_data_files": "table maintenance action",
    "operators.window.reimpose_nulls": "the reference's NaN replay",
    "operators.bloom.bloom_fp_rate": "sizing aid for the Bloom filter",
    "operators.dedup.exact_dedup": "exact-content dedup operator",
    "operators.multimodal.decode_stub": "decoder plug-in point",
    "operators.similarity.ann_bucket_stats": "skew inspection for ann_topk_blocked",
    "operators.similarity.dequantize_embeddings": "inverse of quantize_embeddings",
    "operators.similarity._round_half_away": (
        "reference for the rounding inlined in cosine_topk_join_blocked"
    ),
    "plans.checkpoint.read_run": "read side of the checkpointed runner",
    "plans.checkpoint.pending_units_df": "table form of the runner's resume",
    "streaming.sessions.run_available_now": "availableNow drain for stream operators",
}


def _py_files(root):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [
            d for d in dirnames
            if not d.startswith((".", "_")) and d != "tests"
        ]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _definitions():
    pkg_root = os.path.join(REPO, PKG)
    for path in _py_files(pkg_root):
        rel = os.path.relpath(path, pkg_root)[: -len(".py")]
        module = rel.replace(os.sep, ".")
        for node in ast.parse(open(path).read()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield f"{module}.{node.name}", node.name


def _referenced_names():
    names = set()
    for path in _py_files(REPO):
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_package_definition_has_a_caller_or_a_reason():
    referenced = _referenced_names()
    unreferenced = {
        key for key, name in _definitions() if name not in referenced
    }
    missing = sorted(unreferenced - set(ALLOWLIST))
    assert not missing, (
        "no reference outside tests/ — delete these or allowlist them "
        f"with a reason: {missing}"
    )
    stale = sorted(set(ALLOWLIST) - unreferenced)
    assert not stale, f"allowlist entries now called or gone: {stale}"


def test_every_config_field_is_read():
    from topo_descriptors_spark.config import EngineConfig

    read = set()
    for path in _py_files(REPO):
        for node in ast.walk(ast.parse(open(path).read())):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "CFG"):
                read.add(node.attr)
    unread = sorted(
        f.name for f in dataclasses.fields(EngineConfig) if f.name not in read
    )
    assert not unread, f"EngineConfig fields never read as CFG.<field>: {unread}"
