"""No public function that only tests call, no parameter that only tests
set, and one definition per bench row.

The checks read source with ``ast`` and start no SparkSession.
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
    "kernels.html_extract.extract_main_text_html": "the DOM-parser reference "
    "the html_fast parity tests compare against (COVERAGE K1, F7)",
    "operators.webtext_quality.corpus_datasheet": "COVERAGE's corpus "
    "datasheet rollup row",
    "operators.domains.domain_stats": "the per-host datasheet of "
    "COVERAGE's domain-level curation row",
    "operators.domains.filter_by_domain": "the allow/block gate of "
    "COVERAGE's domain-level curation row",
    "kernels.image.encode_png": "test-input builder for the image decoders",
    "kernels.warc.build_wet": "test-input builder for the WET reader",
}


# Defaulted parameters of public package functions that no entry point
# sets, each kept on purpose, with one of four reasons: (a) a CLI test
# seam, (b) a test-input builder, (c) a safety cap or scale-tier switch
# that SCALE.md or COVERAGE.md names and tests switch on, (d) part of a
# component COVERAGE.md lists.
KEPT_PARAMS = {
    "jobs.extract_job.main.argv": "(a) CLI test seam",
    "jobs.ingest_pipeline.main.argv": "(a) CLI test seam",
    "sources.pages.pages_df.seed": "(b) test-input builder",
    "operators.dedup.minhash_lsh_candidates.max_bucket_size": "(c) hot-bucket cap "
    "(SCALE.md, COVERAGE near-dup rows)",
    "operators.webtext_quality.score_with_bigram_lm.broadcast_lm": "(c) shuffle-join "
    "fallback for unprunable LMs (SCALE.md bigram-LM row)",
    "operators.webtext_quality.ccnet_ppl_buckets.exact": "(c) approx_percentile at the "
    "100 TB tier (COVERAGE LM quality scoring row)",
    "operators.webtext_quality.train_bigram_lm.min_count": "(c) LM pruning to "
    "broadcastable size (SCALE.md bigram-LM row)",
    "operators.linkgraph.anchor_text_terms.min_refs": "(c) hapax-tail prune of the "
    "anchor table (SCALE.md anchor-text row)",
    "operators.dedup.near_dup_dedup.canonicalize": "(d) connected-components "
    "canonicalization (COVERAGE near-dup pipeline row)",
    "operators.dedup.near_dup_dedup.cc_max_iterations": "(d) its iteration bound",
    "operators.skew.salted_join.how": "(d) result-identical inner/left join "
    "(COVERAGE skew-safe join row)",
    "operators.positive_passage.dpr_training_samples.hard_negatives": "(d) mined "
    "negatives of the DPR samples (COVERAGE hard-negative mining, S12)",
    "operators.webtext_quality.filter_by_quality.lm": "(d) the perplexity rule "
    "(COVERAGE quality-filter gate row)",
}


def _py_files(directory: Path):
    return sorted(p for p in directory.rglob("*.py") if not p.name.startswith("test_"))


def _declarations(tree, path: Path) -> set[int]:
    """Ids of the nodes that name a function without using it: the
    ``__all__`` entries, ``Observation("…")`` names and the re-exports of
    an ``__init__``."""
    skip: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
                skip.update(map(id, ast.walk(node.value)))
        elif isinstance(node, ast.Call) and _callee(node.func) == "Observation":
            skip.update(id(a) for a in node.args[:1])
        elif path.name == "__init__.py" and isinstance(node, ast.ImportFrom):
            skip.update(map(id, node.names))
    return skip


def _names_used(paths) -> set[str]:
    """Names, attributes, imported names and identifier-shaped strings,
    except :func:`_declarations`."""
    used: set[str] = set()
    for path in paths:
        tree = ast.parse(path.read_text())
        skip = _declarations(tree, path)
        for node in ast.walk(tree):
            if id(node) in skip:
                continue
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


def _callers():
    """The non-test sources: the package and its entry points."""
    return (
        _py_files(PACKAGE)
        + _py_files(ROOT / "tools")
        + _py_files(ROOT / "perfbench")
        + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    )


def _public_functions():
    """``{module.name: FunctionDef}`` of the top-level package functions
    whose names start with neither ``_`` nor ``q_``."""
    out = {}
    for path in _py_files(PACKAGE):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef)
            ) and not node.name.startswith(("_", "q_")):
                out[f"{module}.{node.name}"] = node
    return out


def test_every_public_function_has_a_non_test_caller_or_a_reason():
    used = _names_used(_callers())
    unreached = {q for q, fn in _public_functions().items() if fn.name not in used}
    assert unreached == set(KEPT)


def _callee(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _parameters_set(paths) -> dict[str, set]:
    """Function name -> what its callers set: keyword names, positional
    indexes, or ``"*"`` for everything.  A call through
    ``functools.partial`` sets what the partial binds; a call with
    ``*``/``**`` expansion, and any use of the function as a value
    instead of a call by name, sets everything."""
    setting: dict[str, set] = {}
    for path in paths:
        tree = ast.parse(path.read_text())
        called = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            called.add(id(node.func))
            name, args = _callee(node.func), node.args
            if name == "partial" and args:
                called.add(id(args[0]))
                name, args = _callee(args[0]), args[1:]
            if name is None:
                continue
            if any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in node.keywords
            ):
                setting.setdefault(name, set()).add("*")
            else:
                setting.setdefault(name, set()).update(
                    [*range(len(args)), *(k.arg for k in node.keywords)]
                )
        for node in ast.walk(tree):
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and id(node) not in called
                and not isinstance(node.ctx, (ast.Store, ast.Del))
            ):
                setting.setdefault(_callee(node), set()).add("*")
    return setting


def _unset_defaulted_parameters(paths) -> set[str]:
    setting = _parameters_set(paths)
    unset = set()
    for qualname, fn in _public_functions().items():
        if qualname in KEPT:
            continue
        done = setting.get(fn.name, set())
        if "*" in done:
            continue
        a = fn.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        defaulted = positional[len(positional) - len(a.defaults):] + [
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        for param in defaulted:
            index = positional.index(param) if param in positional else None
            if param not in done and index not in done:
                unset.add(f"{qualname}.{param}")
    return unset


def test_every_defaulted_parameter_has_a_non_test_setter_or_a_reason():
    """A defaulted parameter that no entry point sets has one value in use:
    it is a constant, or a knob kept for one of the reasons above."""
    assert _unset_defaulted_parameters(_callers()) == set(KEPT_PARAMS)


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
