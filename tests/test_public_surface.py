"""No public function that only tests call, no parameter that only tests
set, and one definition per bench row.

The checks read source with ``ast`` and start no SparkSession.
"""

from __future__ import annotations

import ast
import json
import sys
import textwrap
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


# Defaulted parameters of public package functions that entry points
# pass at one value, each kept on purpose, with one of six reasons: (a) a
# CLI test seam, (b) a test-input builder, (c) a safety cap or scale-tier
# switch that SCALE.md or COVERAGE.md names and tests switch on, (d) part
# of a component COVERAGE.md lists, (e) a ``perfbench/`` call passes it by
# keyword, and ``perfbench/`` is frozen, (f) it selects the reference path
# that tests compare against.
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
    "operators.webtext_quality.filter_by_quality.rules": "(d) the gate's "
    "thresholds; the perplexity rule above is switched on by rules.max_ppl",
    "operators.urls.dedup_by_url.shuffle_payloads": "(e) perfbench's re-crawl "
    "layer passes it; (f) the window path tests compare the join path against",
    "operators.dsir.train_dsir_weights.hash_impl": "(f) md5 selects the granular "
    "reference tests compare dsir_select (the dsir_selection seat) against",
    "operators.dsir.dsir_scores.hash_impl": "(f) as train_dsir_weights.hash_impl",
    **{
        f"functions.encoder.train_contrastive.{p}": "(f) the driver-side "
        "reference train_contrastive_distributed is compared against at the "
        "tests' own hyperparameters"
        for p in ("dim_in", "hidden", "dim_out", "seed", "epochs", "lr", "temp")
    },
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


# What a call with ``*``/``**`` expansion, or a use of the function as a
# value, passes: every parameter, at values the source does not show.
ANY = "*"


def _value(node) -> str:
    """The literal a call passes, as source text, or ``ANY`` for a value
    computed at run time."""
    try:
        ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return ANY
    return ast.unparse(node)


def _dict_items(node) -> dict | None:
    """``{key: value}`` of a dict literal, ``{...}`` or ``dict(k=...)``,
    whose keys are all known; None for anything else."""
    if isinstance(node, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in node.keys
    ):
        return {k.value: _value(v) for k, v in zip(node.keys, node.values)}
    if (
        isinstance(node, ast.Call)
        and _callee(node.func) == "dict"
        and not node.args
        and all(k.arg for k in node.keywords)
    ):
        return {k.arg: _value(k.value) for k in node.keywords}
    return None


def _local_names(fn) -> set[str]:
    """The parameters of ``fn`` and the names its body binds."""
    a = fn.args
    names = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
    names.update(p.arg for p in (a.vararg, a.kwarg) if p)
    names.update(
        n.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    )
    return names


def _parameters_set(paths) -> dict[str, list[tuple[dict, str]]]:
    """Function name -> one ``({parameter: value}, "file:line")`` per call
    by name, where a parameter is a keyword or a positional index and a
    value is what :func:`_value` reads.  A call through
    ``functools.partial`` passes what the partial binds; ``**`` of a
    module-level dict literal passes that dict's items.  Any other
    ``*``/``**`` expansion, and any use of the function as a value, passes
    ``{ANY: ANY}``.  A name is such a use unless an enclosing function
    binds it; an attribute only when its base is an imported name, so
    ``args.f`` is not a use of ``f``."""
    calls: dict[str, list[tuple[dict, str]]] = {}
    for path in paths:
        tree = ast.parse(path.read_text())
        where = path.relative_to(ROOT) if path.is_relative_to(ROOT) else path
        dicts = {
            t.id: items
            for node in tree.body
            if isinstance(node, ast.Assign) and (items := _dict_items(node.value))
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        imported = {
            (alias.asname or alias.name).split(".")[0]
            for node in ast.walk(tree)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for alias in node.names
        }
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
            bound: dict = {i: _value(a) for i, a in enumerate(args)}
            for k in node.keywords:
                if k.arg is not None:
                    bound[k.arg] = _value(k.value)
                elif isinstance(k.value, ast.Name) and k.value.id in dicts:
                    bound.update(dicts[k.value.id])
                else:
                    bound[ANY] = ANY
            if any(isinstance(a, ast.Starred) for a in args):
                bound[ANY] = ANY
            calls.setdefault(name, []).append((bound, f"{where}:{node.lineno}"))

        def uses(node, local: frozenset):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                local = local | _local_names(node)
            elif id(node) not in called and isinstance(
                getattr(node, "ctx", None), ast.Load
            ):
                if isinstance(node, ast.Name) and node.id not in local:
                    yield node.id, node.lineno
                elif isinstance(node, ast.Attribute):
                    base = node.value
                    while isinstance(base, ast.Attribute):
                        base = base.value
                    if isinstance(base, ast.Name) and base.id in imported:
                        yield node.attr, node.lineno
            for child in ast.iter_child_nodes(node):
                yield from uses(child, local)

        for name, line in uses(tree, frozenset()):
            calls.setdefault(name, []).append(({ANY: ANY}, f"{where}:{line}"))
    return calls


def _values_in_use(fn, calls) -> dict[str, dict[str, list[str]]]:
    """Defaulted parameter of ``fn`` -> ``{value: ["file:line", ...]}``:
    what each call passes, its default where it passes nothing."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update(
        (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    values: dict[str, dict[str, list[str]]] = {param: {} for param in defaults}
    for bound, where in calls:
        for param, default in defaults.items():
            index = positional.index(param) if param in positional else None
            value = bound.get(param, bound.get(index, bound.get(ANY)))
            values[param].setdefault(value or ast.unparse(default), []).append(where)
    return values


def _one_value_parameters(paths) -> dict[str, dict[str, list[str]]]:
    """``module.function.parameter`` -> its values in use, for each
    defaulted parameter of a public package function (``KEPT`` aside)
    that entry points pass at one literal at most."""
    calls = _parameters_set(paths)
    found = {}
    for qualname, fn in _public_functions().items():
        if qualname in KEPT:
            continue
        for param, values in _values_in_use(fn, calls.get(fn.name, [])).items():
            if ANY not in values and len(values) <= 1:
                found[f"{qualname}.{param}"] = values
    return found


def test_every_defaulted_parameter_has_a_non_test_setter_or_a_reason():
    """A defaulted parameter that entry points pass at one value has one
    value in use: it is a constant, or a knob kept for one of the reasons
    above."""
    found = _one_value_parameters(_callers())
    lines = [
        f"{q}: "
        + (
            "; ".join(f"{v} at {', '.join(w)}" for v, w in values.items())
            or "no entry point calls it"
        )
        for q, values in sorted(found.items())
        if q not in KEPT_PARAMS
    ]
    lines += [
        f"{q}: in KEPT_PARAMS, but entry points pass more than one value"
        for q in sorted(set(KEPT_PARAMS) - set(found))
    ]
    assert not lines, "\n".join(["", *lines])


def test_the_parameter_guard_reads_calls_as_documented(tmp_path):
    snippet = tmp_path / "snippet.py"
    snippet.write_text(
        textwrap.dedent(
            """
            from functools import partial

            from pkg import f, g, h, k

            OPTIONS = dict(x=1, y="a")


            def main(args, kwargs, h):
                f(0, **OPTIONS)
                g(**kwargs)
                partial(h, x=1)
                if args.k:
                    k(1)
                k(1, y=2)
                return h


            def k(x, y=2):
                return x + y
            """
        )
    )
    calls = _parameters_set([snippet])
    # ** of a literal dict passes its items; any other ** passes everything
    assert [bound for bound, _ in calls["f"]] == [{0: "0", "x": "1", "y": "'a'"}]
    assert [bound for bound, _ in calls["g"]] == [{ANY: ANY}]
    # partial passes what it binds; main's parameter h is not a use of h
    assert [bound for bound, _ in calls["h"]] == [{"x": "1"}]
    # args.k is not a use of k, and y=2 is k's default: one value in use
    assert sorted((bound for bound, _ in calls["k"]), key=len) == [
        {0: "1"},
        {0: "1", "y": "2"},
    ]
    (k_def,) = [n for n in ast.parse(snippet.read_text()).body if getattr(n, "name", "") == "k"]
    where = [w for _, w in calls["k"]]
    assert _values_in_use(k_def, calls["k"]) == {"y": {"2": where}}


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
