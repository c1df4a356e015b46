"""Every engine option has a caller, and each Spark/DuckDB twin spells its
settings once.

A defaulted parameter that no call site sets is a configuration no test or
benchmark runs; a default written into both `X` and its `X_sql` /
`X_oracle` twin is two definitions of one constant. This scan reads the
source only (no Spark, well under a second):

- definitions: top-level functions in `beats_spark/`, `jobs/` and
  `__spark_entry__.py`;
- call sites: every call in `beats_spark/`, `jobs/`, `perfbench/`,
  `tools/`, `tests/`, `bench.py` and `__spark_entry__.py`, matched to a
  definition by the called name. A call sets the parameters it passes by
  position or keyword; a `*args` sets every positional parameter and a
  `**kw` every parameter.
"""

from __future__ import annotations

import ast
import collections
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEF_DIRS = ("beats_spark", "jobs")
CALL_DIRS = ("beats_spark", "jobs", "perfbench", "tools", "tests")
ENTRY_FILES = ("__spark_entry__.py", "bench.py")

# Parameters set where the scan cannot see a call by name.
DYNAMIC = {
    # the module filesets are called through `getattr(M, name)(df, **kw)`
    # in tests/test_module_corpus.py, which freezes them with and without
    # a zone
    ("beats_spark/modules.py", "timezone"),
    # the spark-submit entry point, called as main() or with sys.argv
    ("jobs/run_pipeline.py", "argv"),
}


def _files(dirs, extra):
    out = [p for d in dirs for p in sorted((ROOT / d).rglob("*.py"))]
    return out + [ROOT / e for e in extra if (ROOT / e).exists()]


def _defaults(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, position or None for keyword-only, default) per defaulted
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i, a.defaults[i - first])
           for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None, d)
            for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


@functools.cache
def _definitions():
    defs = {}
    for f in _files(DEF_DIRS, ("__spark_entry__.py",)):
        rel = f.relative_to(ROOT).as_posix()
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                defs[(rel, node.name)] = _defaults(node)
    return defs


def _call_sites():
    """Called name -> (keywords set, max positional count, any `**`)."""
    kws = collections.defaultdict(set)
    npos = collections.defaultdict(int)
    star = collections.defaultdict(bool)
    for f in _files(CALL_DIRS, ENTRY_FILES):
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None)
            if name is None:
                continue
            n = (10**6 if any(isinstance(x, ast.Starred) for x in node.args)
                 else len(node.args))
            npos[name] = max(npos[name], n)
            for k in node.keywords:
                if k.arg is None:
                    star[name] = True
                else:
                    kws[name].add(k.arg)
    return kws, npos, star


def unset_parameters() -> tuple[int, list[tuple[str, str, str]]]:
    """(defaulted parameter count, the ones no call site sets)."""
    defs = _definitions()
    kws, npos, star = _call_sites()
    total, unset = 0, []
    for (rel, fn), params in defs.items():
        for name, i, _ in params:
            total += 1
            is_set = (name in kws[fn] or star[fn]
                      or (i is not None and i < npos[fn])
                      or (rel, name) in DYNAMIC)
            if not is_set:
                unset.append((rel, fn, name))
    return total, unset


def twin_repeats() -> list[tuple[str, str]]:
    """(twin, parameter) for each default an `X_sql` / `X_oracle` writes
    again beside `X`'s. Two defaults reading one module constant are one
    definition."""
    defs = _definitions()
    by_name = collections.defaultdict(list)
    for (_, fn), params in defs.items():
        by_name[fn].append({n: d for n, _, d in params})
    out = []
    for (_, fn), params in defs.items():
        for suffix in ("_sql", "_oracle"):
            if not fn.endswith(suffix):
                continue
            for base in by_name.get(fn[: -len(suffix)], []):
                for name, _, d in params:
                    if name not in base:
                        continue
                    b = base[name]
                    shared = (isinstance(d, ast.Name) and isinstance(b, ast.Name)
                              and d.id == b.id)
                    if not shared:
                        out.append((fn, name))
    return out


def test_every_defaulted_parameter_has_a_caller():
    total, unset = unset_parameters()
    assert total > 0
    assert unset == [], (
        "defaulted parameters no call site sets (make each a literal in "
        f"the body, or a module constant when a twin reads it): {unset}"
    )


def test_twins_spell_each_default_once():
    repeats = twin_repeats()
    assert repeats == [], (
        "defaults repeated by a DuckDB twin (make the parameter required "
        f"on both sides, or read one module constant): {repeats}"
    )
