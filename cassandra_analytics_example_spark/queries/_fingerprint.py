"""Evidence fingerprint of a registered query (``queries._fingerprint``).

Stdlib only, so ``tools/stamp_evidence.py`` can run this file by path
against a historical tree whose package predates it::

    python -I cassandra_analytics_example_spark/queries/_fingerprint.py <tree>

prints ``{query name: fingerprint}`` as JSON for every query ``<tree>``
registers, resolving every import against that tree's modules.
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import json
import re
import sys
from collections.abc import Callable

# package imports inside a query fn body (the house style imports its
# operators locally): "from cassandra_analytics_example_spark.X import a, b"
# or the parenthesized multi-line form.
_PKG_IMPORT_RE = re.compile(
    r"from\s+(cassandra_analytics_example_spark[.\w]*)\s+import\s+"
    r"(\([^)]*\)|[^\n(]+)"
)


def one_hop_sources(src: str, fn: Callable | None = None) -> list[str]:
    """Source text of every package symbol the query fn uses directly, plus
    one helper hop. A query whose own text is unchanged still changes
    behaviour when the operator it calls is rewritten (q142's span
    operator), so the fingerprint hashes that layer too. Symbols resolve
    two ways: imports inside the fn body (parsed from ``src`` with
    comments stripped first, so a ``# noqa`` or a ``)`` in a comment
    cannot drop a symbol), and package symbols bound at module level in
    ``fn``'s module and named in ``src``.

    The helper hop scans each resolved operator's own source for package
    functions/classes bound in the operator's module and hashes those
    too, so a helper rewrite two hops from the query voids its evidence.
    Nothing deeper, by measurement: hashing whole defining modules would
    void 285/322 queries for a one-line edit to ``queries._tables`` (30 for
    ``streaming.windows``), starving the driver's ~50-query window.

    The result is a pure function of the tree: a submodule import (``from
    ...sources import versioned``) resolves through
    ``importlib.import_module`` rather than ``getattr``, which would
    depend on what the process imported before. ``inspect.getsource``
    follows ``__wrapped__``, so a decorated operator contributes its own
    def site. Unresolvable symbols are skipped, so ``load_all`` never
    breaks on a moved import; output is de-duplicated and sorted."""
    found: dict[str, str] = {}
    objs: dict[str, object] = {}
    scan = re.sub(r"#[^\n]*", "", src)  # strip comments before matching
    for mod_name, names in _PKG_IMPORT_RE.findall(scan):
        for sym in names.strip("()").replace("\n", " ").split(","):
            sym = sym.strip()
            if not sym or sym == "register":
                continue
            sym = sym.split(" as ")[0].strip()
            try:
                obj = getattr(importlib.import_module(mod_name), sym, None)
                if obj is None:  # submodule not yet imported — resolve it
                    obj = importlib.import_module(f"{mod_name}.{sym}")
                found[f"{mod_name}.{sym}"] = inspect.getsource(obj)
                objs[f"{mod_name}.{sym}"] = obj
            except Exception:  # moved/renamed/C-level — omit, don't break
                continue
    if fn is not None:
        mod = inspect.getmodule(fn)
        for name, obj in list(vars(mod).items() if mod else []):
            if name == "register" or obj is fn:
                continue
            obj_mod = getattr(obj, "__module__", "") or ""
            if not obj_mod.startswith("cassandra_analytics_example_spark"):
                continue
            if not (inspect.isfunction(obj) or inspect.isclass(obj)):
                continue
            if not re.search(rf"\b{re.escape(name)}\b", src):
                continue
            try:
                found[f"{obj_mod}.{name}"] = inspect.getsource(obj)
                objs[f"{obj_mod}.{name}"] = obj
            except Exception:
                continue
    # helper hop: package helpers referenced by the used operators' own
    # source (see docstring — closes the two-hop rewrite blind spot
    # without module-level blast radius)
    for obj in list(objs.values()):
        if not (inspect.isfunction(obj) or inspect.isclass(obj)):
            continue
        try:
            osrc = inspect.getsource(obj)
            omod = inspect.getmodule(obj)
        except Exception:
            continue
        oscan = re.sub(r"#[^\n]*", "", osrc)
        for name, hobj in list(vars(omod).items() if omod else []):
            hmod = getattr(hobj, "__module__", "") or ""
            if not hmod.startswith("cassandra_analytics_example_spark"):
                continue
            if not (inspect.isfunction(hobj) or inspect.isclass(hobj)):
                continue
            if hobj is obj or f"{hmod}.{name}" in found:
                continue
            if not re.search(rf"\b{re.escape(name)}\b", oscan):
                continue
            try:
                found[f"{hmod}.{name}"] = inspect.getsource(hobj)
            except Exception:
                continue
    return [found[k] for k in sorted(found)]


def fingerprint(fn: Callable, oracle: str | None) -> str:
    """sha256 over the fn's source (for a ``@register``-decorated def that
    includes the decorator, so the oracle SQL), the oracle text, and
    ``one_hop_sources``, "\x00"-joined. Conservative by design: a
    comment-only edit also re-queues the query for one re-check."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):  # source unavailable (REPL, C callable)
        src = fn.__qualname__
    parts = [src, oracle or ""] + one_hop_sources(src, fn)
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()


if __name__ == "__main__":
    sys.path.insert(0, sys.argv[1])
    q = importlib.import_module("cassandra_analytics_example_spark.queries")
    for mod in q._MODULES:
        importlib.import_module(mod)
    print(json.dumps(
        {name: fingerprint(qd.fn, qd.oracle) for name, qd in q.REGISTRY.items()}
    ))
