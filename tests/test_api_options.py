"""Every defaulted parameter of a public package function is set somewhere.

Pure ``ast``; starts no Spark.  A default that no call overrides is a
constant dressed as an option: it doubles the configurations tests must
cover while only one of them ever runs.  The rule:

* Definitions: module-level public functions and public methods of
  classes in ``gclog_parser_spark/`` (names without a leading ``_``),
  except the DuckDB reference modules ``oracle.py``/``oracle_text.py``,
  which the parity tests compare against and which stay as written.
* Calls: every call in the package, ``jobs/``, ``tools/``, ``perfbench/``,
  ``bench.py`` and ``__spark_entry__.py``, matched to a definition by
  the called name (``f(...)`` or ``obj.f(...)``).  Tests are not
  callers: an option only a test sets is a second configuration that
  no program runs.
* A defaulted parameter is set when some call passes it by keyword, or
  passes enough positional arguments to reach it.  A ``**kwargs`` call
  sets every keyword of that name, and a ``*args`` call every
  positional one.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "gclog_parser_spark")
ORACLES = {"oracle.py", "oracle_text.py"}
CALLERS = ["gclog_parser_spark", "jobs", "tools", "perfbench", "bench.py",
           "__spark_entry__.py"]

_EVICT = ("the state-eviction path: under NoTimeout the end marker is "
          "the twin's only bound on per-url state")
_BACKSTOP = ("bound of a safety backstop that a test must reach: "
             "max_rounds bounds the rounds that change the state")

# Options no program sets that stay options, each with its reason.
KEPT = {
    ("sources/sinks.py", "stream_to_socket", "port"):
        "deployment setting: the graphite relay's port",
    ("sources/sinks.py", "stream_to_socket", "checkpoint"):
        "deployment setting: the stream's checkpoint location",
    ("operators/layout.py", "bucket_table", "path"):
        "deployment setting: where the external bucketed table lives",
    ("operators/route.py", "fanout_write", "fmt"):
        "deployment setting: the output format swap that the module "
        "docstring names",
    ("operators/graph.py", "kcore", "max_rounds"): _BACKSTOP,
    ("operators/graph.py", "coreness", "max_rounds"): _BACKSTOP,
    ("operators/dedup.py", "connected_components", "max_rounds"):
        _BACKSTOP,
    ("streaming/stateful.py", "stateful_rates", "end_marker_col"): _EVICT,
    ("streaming/stateful.py", "stateful_cusum", "end_marker_col"): _EVICT,
    ("streaming/stateful.py", "stateful_jitter", "end_marker_col"): _EVICT,
    ("streaming/stateful.py", "stateful_slo_burn", "end_marker_col"):
        _EVICT,
    ("operators/parse.py", "extract_gc_text", "text_col"):
        "on the timed path of perfbench (parse_events calls it); its one "
        "setting caller, cpu_times(text_col=), is gone",
}


def _py_files(path):
    if path.endswith(".py"):
        yield path
        return
    for d, _, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(d, n)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _defaulted(fn: ast.FunctionDef, method: bool):
    """(positional index or None, name) of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if method and not any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list) else 0
    out = [(i - skip, p.arg)
           for i, p in enumerate(pos)
           if i >= len(pos) - len(a.defaults)]
    out += [(None, p.arg)
            for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def public_options():
    """{(module, function, parameter): positional index or None}."""
    opts = {}
    for path in _py_files(PACKAGE):
        if os.path.basename(path) in ORACLES:
            continue
        mod = os.path.relpath(path, PACKAGE)
        tree = _parse(path)
        defs = [(n, False) for n in tree.body
                if isinstance(n, ast.FunctionDef)]
        for cls in tree.body:
            if isinstance(cls, ast.ClassDef) and not cls.name.startswith("_"):
                defs += [(n, True) for n in cls.body
                         if isinstance(n, ast.FunctionDef)]
        for fn, method in defs:
            if fn.name.startswith("_"):
                continue
            for idx, name in _defaulted(fn, method):
                opts[(mod, fn.name, name)] = idx
    return opts


def call_sites():
    """{called name: (keywords passed, max positional count)}."""
    seen: dict[str, tuple[set, int]] = {}
    for top in CALLERS:
        for path in _py_files(os.path.join(ROOT, top)):
            for node in ast.walk(_parse(path)):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None)
                if name is None:
                    continue
                kws, npos = seen.get(name, (set(), 0))
                for k in node.keywords:
                    kws.add("**" if k.arg is None else k.arg)
                starred = any(isinstance(a, ast.Starred) for a in node.args)
                npos = max(npos, 10 ** 6 if starred else len(node.args))
                seen[name] = (kws, npos)
    return seen


def unset_options():
    calls = call_sites()
    unset = []
    for (mod, fn, name), idx in sorted(public_options().items()):
        kws, npos = calls.get(fn, (set(), 0))
        if name in kws or "**" in kws:
            continue
        if idx is not None and npos > idx:
            continue
        unset.append((mod, fn, name))
    return unset


def test_every_public_option_is_set_by_some_call():
    unset = [o for o in unset_options() if o not in KEPT]
    by_module: dict[str, list[str]] = {}
    for m, f, p in unset:
        by_module.setdefault(m, []).append(f"{f}({p}=)")
    assert not unset, (
        f"{len(unset)} defaulted parameters that no program call sets; "
        "make each the constant it is:\n"
        + "\n".join(f"  {m} ({len(v)}): {', '.join(v)}"
                     for m, v in by_module.items()))


def test_kept_exceptions_are_still_unset_options():
    # A kept entry that a direct call now sets, or whose parameter is
    # gone, no longer needs its exception.
    assert set(KEPT) <= set(unset_options())
