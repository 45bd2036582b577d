"""The scripts that drive the SWA and as-of operators from outside this
suite — the benchmark workloads, ``bench.py``, the scaling runner, the
corpus job and the driver entry — pass only keywords the operators
take. Those scripts do not run here, so an operator option deleted
while one of them still passes it would otherwise surface only at their
next run. The scripts are parsed, never imported or changed."""

from __future__ import annotations

import ast
import inspect
import os

import pytest

from feathr_spark.operators.asof import asof_join
from feathr_spark.operators.swa import join_window_agg_features

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLERS = ["perfbench/workloads.py", "bench.py", "BENCH/run_scaling.py",
           "jobs/corpus_features.py", "__spark_entry__.py"]
TARGETS = {f.__name__: f for f in (join_window_agg_features, asof_join)}


def _callee(call: ast.Call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _keyword_calls(tree):
    """(operator, keyword, line) for every keyword passed to an operator,
    directly or through a function of the same file that forwards its
    ``**kwargs`` to one (``_swa(spark, sf_dir, feats, **kw)``); keywords
    the wrapper names itself stop there."""
    wrappers = {}
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef) or fn.args.kwarg is None:
            continue
        for call in ast.walk(fn):
            if isinstance(call, ast.Call) and _callee(call) in TARGETS and any(
                    k.arg is None and isinstance(k.value, ast.Name)
                    and k.value.id == fn.args.kwarg.arg for k in call.keywords):
                own = {a.arg for a in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs}
                wrappers[fn.name] = (_callee(call), own)
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        name = _callee(call)
        target, own = (name, set()) if name in TARGETS else wrappers.get(name, (None, None))
        if target is None:
            continue
        for k in call.keywords:
            if k.arg is not None and k.arg not in own:
                yield target, k.arg, call.lineno


def _unknown_keywords(source: str, path: str) -> tuple[list, list]:
    calls = list(_keyword_calls(ast.parse(source, path)))
    bad = [f"{path}:{line} {target}({kw}=...)" for target, kw, line in calls
           if kw not in inspect.signature(TARGETS[target]).parameters]
    return calls, bad


@pytest.mark.parametrize("path", CALLERS)
def test_caller_keywords_are_operator_parameters(path):
    with open(os.path.join(ROOT, path)) as fh:
        calls, bad = _unknown_keywords(fh.read(), path)
    assert calls, f"{path} passes no keyword to {sorted(TARGETS)}"
    assert not bad, f"keywords the operators do not take: {bad}"


def test_scan_flags_a_removed_keyword_direct_and_forwarded():
    src = '''
def _swa(spark, sf_dir, feats, strategy="auto", **kw):
    return join_window_agg_features(obs, ev, k, k, "ts", "ts", feats,
                                    strategy=strategy, **kw)

a = _swa(spark, d, feats, strategy="cogroup", salt_buckets=4, salt_mode="replicate")
b = fs.asof_join(obs, fact, k, k, "ts", "ts", ["v"], hot_key_threshold=3)
'''
    _, bad = _unknown_keywords(src, "snippet.py")
    assert [b.split(" ", 1)[1] for b in bad] == [
        "join_window_agg_features(salt_mode=...)", "asof_join(hot_key_threshold=...)"]


@pytest.mark.parametrize("kw", ["semi_join_fact", "num_buckets", "hot_key_method",
                                "salt_mode"])
def test_deleted_swa_options_raise_type_error(kw):
    assert len(inspect.signature(join_window_agg_features).parameters) == 16
    with pytest.raises(TypeError, match=kw):
        join_window_agg_features(None, None, ["k"], ["k"], "ts", "ts", [], **{kw: None})
