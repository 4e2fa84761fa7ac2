"""No public function that only tests call, and one definition per bench row.

Both checks read source with ``ast`` and start no SparkSession.
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "document_automation_spark"

# Public top-level package functions that no entry point reaches, each
# kept on purpose.
KEPT = {
    "functions.train.train_ranker": "the DPR-trainer analogue of the "
    "reference's train_dpr_with_haystack.py (COVERAGE)",
    "functions.train.rank_eval": "the evaluation half of that DPR-trainer analogue",
    "functions.train.train_contrastive_distributed": "the data-parallel form of "
    "encoder.train_contrastive, pinned to it at n_shards=1",
    "functions.encoder.contrastive_loss": "Python reference the trainer tests "
    "compare the loss history against",
    "operators.multimodal.media_features": "multimodal component (SURVEY K1/K2): "
    "the reference's image decode and numeric crop",
    "operators.multimodal.media_metadata": "multimodal component (SURVEY K1/K2)",
    "operators.rerank.maxsim_score": "Python reference the late-interaction "
    "rerank tests compare against",
    "kernels.textstats.count_tokens_ws": "Python reference the token_stats "
    "tests compare against",
    "kernels.fingerprint.hamming64": "Python reference the simhash tests "
    "compare against",
    "kernels.cluster.postprocess_lines": "K10, the reference's four-branch "
    "post-process dispatcher (COVERAGE K10)",
    "kernels.image.encode_png": "test-input builder for the image decoders",
    "kernels.warc.build_wet": "test-input builder for the WET reader",
}


def _py_files(directory: Path):
    return sorted(p for p in directory.rglob("*.py") if not p.name.startswith("test_"))


def _names_used(paths) -> set[str]:
    """Names, attributes, imported names and identifier-shaped strings."""
    used: set[str] = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value.isidentifier():
                    used.add(node.value)
    return used


def test_every_public_function_has_a_non_test_caller_or_a_reason():
    used = _names_used(
        _py_files(PACKAGE)
        + _py_files(ROOT / "tools")
        + _py_files(ROOT / "perfbench")
        + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    )
    unreached = set()
    for path in _py_files(PACKAGE):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith(("_", "q_"))
                and node.name not in used
            ):
                unreached.add(f"{module}.{node.name}")
    assert unreached == set(KEPT)


def _bench():
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import bench

    return bench


def test_bench_rows_are_the_recorded_rows_in_order():
    recorded = json.loads((ROOT / "BENCH_r06_final.json").read_text())["queries"]
    assert list(_bench().ROW_NAMES) == list(recorded)


def test_tools_define_no_bench_rows_of_their_own():
    """A row is ``fn(spark, ...)`` over a package operator; the tools get
    every row from ``bench`` instead."""
    for tool in ("profile_queries.py", "drift_measure.py"):
        tree = ast.parse((ROOT / "tools" / tool).read_text())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                params = [a.arg for a in node.args.args]
                assert not params or not params[0].startswith("spark"), (tool, params)
            if isinstance(node, ast.ImportFrom) and node.module:
                assert not node.module.startswith("document_automation_spark"), (
                    tool,
                    node.module,
                )
