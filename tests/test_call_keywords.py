"""Static keyword check for the engine's job entry points in callers no
tier-1 test runs end to end (the bench harnesses, the perfbench
workloads, the driver entry, the scripts): every keyword passed to ``encode_job.run_encode*`` or
``decode_job.run_decode*`` must exist in the callee's signature, so a
removed or renamed parameter fails here instead of in a long bench run."""

from __future__ import annotations

import ast
import glob
import inspect
import os

from sparc.job import decode_job, encode_job

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = {"encode_job": encode_job, "decode_job": decode_job}
# callees that forward **kwargs to another entry point
FORWARDS = {"run_decode_map": decode_job.run_decode}


def _callers() -> list[str]:
    names = [
        "bench.py", "scaling_bench.py", "__spark_entry__.py",
        os.path.join("perfbench", "workloads.py"),
    ]
    return [os.path.join(REPO, n) for n in names] + sorted(
        glob.glob(os.path.join(REPO, "scripts", "*.py"))
    )


def _accepted(name: str, fn) -> set[str]:
    params = set(inspect.signature(fn).parameters)
    if name in FORWARDS:
        params |= set(inspect.signature(FORWARDS[name]).parameters)
    return params


def _entry_calls(path: str):
    """(line, callee name, callee, keyword names) of every
    ``encode_job.run_encode*`` / ``decode_job.run_decode*`` call."""
    tree = ast.parse(open(path).read(), filename=path)
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        owner, name = node.func.value, node.func.attr
        if not (isinstance(owner, ast.Name) and owner.id in MODULES):
            continue
        if not name.startswith(("run_encode", "run_decode")):
            continue
        keywords = [k.arg for k in node.keywords if k.arg is not None]
        yield node.lineno, name, getattr(MODULES[owner.id], name), keywords


def test_entry_point_keywords_exist():
    bad, n_calls = [], 0
    for path in _callers():
        for line, name, fn, keywords in _entry_calls(path):
            n_calls += 1
            accepted = _accepted(name, fn)
            bad += [
                f"{os.path.relpath(path, REPO)}:{line} {name}({k}=...)"
                for k in keywords
                if k not in accepted
            ]
    assert n_calls >= 20, f"only {n_calls} entry-point calls found"
    assert not bad, "keywords the callee does not accept:\n" + "\n".join(bad)
