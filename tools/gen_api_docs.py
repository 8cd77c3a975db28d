#!/usr/bin/env python3
"""Generate the per-operator API reference into docs/api/ (VERDICT r12
next #7).

199 registered queries and ~40 operators exceed what COVERAGE.md can
index by hand; this tool renders a navigable, byte-stable reference
straight from the docstrings so the docs can never drift silently from
the code — ``tests/test_smoke.py::test_api_docs_in_sync`` regenerates
into a temp dir and compares bytes.

Output layout:

- ``docs/api/INDEX.md`` — module table with public-symbol counts.
- ``docs/api/<dotted.module>.md`` — one file per package module:
  every public function/class defined IN that module (not re-exports),
  in source order, with its signature and full docstring (the
  docstrings already carry the scale notes, reference citations, and
  oracle-twin conventions — the doc of record is the code).
- ``docs/api/queries.md`` — the driver-contract registry: every
  registered query with its implementing module, oracle form
  (``sql`` = full DuckDB recompute / ``rows-only`` = no SQL twin), and
  one-line summary.

Byte-stability: no timestamps, sorted module walk, source-order
symbols, signatures via inspect. Run with ``--check`` to diff without
writing (exit 1 on drift); default regenerates in place.
"""

from __future__ import annotations

import importlib
import inspect
import os
import pkgutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PACKAGE = "etlutils_spark"
# query-registration modules are covered by queries.md (their public
# surface is the registry, not the q_* wrappers)
SKIP_MODULE_SUFFIXES = ("_queries",)


def _modules() -> list[str]:
    import etlutils_spark

    names = [PACKAGE]
    for info in pkgutil.walk_packages(
        etlutils_spark.__path__, prefix=PACKAGE + "."
    ):
        names.append(info.name)
    keep = []
    for name in sorted(names):
        short = name.rsplit(".", 1)[-1]
        if short.startswith("_"):
            continue
        if any(short.endswith(s) for s in SKIP_MODULE_SUFFIXES):
            continue
        keep.append(name)
    return keep


def _public_symbols(mod) -> list[tuple[str, object]]:
    """Functions/classes DEFINED in this module, in source order."""
    out = []
    for name, obj in vars(mod).items():
        if name.startswith("_"):
            continue
        if not (inspect.isfunction(obj) or inspect.isclass(obj)):
            continue
        if getattr(obj, "__module__", None) != mod.__name__:
            continue
        try:
            line = inspect.getsourcelines(obj)[1]
        except (OSError, TypeError):
            line = 0
        out.append((line, name, obj))
    out.sort(key=lambda t: (t[0], t[1]))
    return [(name, obj) for _, name, obj in out]


def _signature(obj) -> str:
    try:
        return str(inspect.signature(obj))
    except (ValueError, TypeError):
        return "(...)"


def _render_module(mod_name: str) -> str | None:
    mod = importlib.import_module(mod_name)
    symbols = _public_symbols(mod)
    if not symbols:
        return None
    lines = [f"# `{mod_name}`", ""]
    head = inspect.getdoc(mod)
    if head:
        lines += [head, ""]
    for name, obj in symbols:
        kind = "class" if inspect.isclass(obj) else "def"
        lines.append(f"## `{kind} {name}{_signature(obj)}`")
        lines.append("")
        doc = inspect.getdoc(obj)
        if doc:
            lines += [doc, ""]
        if inspect.isclass(obj):
            for mname, mobj in _public_symbols_of_class(obj):
                lines.append(f"### `{mname}{_signature(mobj)}`")
                lines.append("")
                mdoc = inspect.getdoc(mobj)
                if mdoc:
                    lines += [mdoc, ""]
    return "\n".join(lines).rstrip() + "\n"


def _public_symbols_of_class(cls) -> list[tuple[str, object]]:
    out = []
    for name, obj in vars(cls).items():
        if name.startswith("_") or not inspect.isfunction(obj):
            continue
        try:
            line = inspect.getsourcelines(obj)[1]
        except (OSError, TypeError):
            line = 0
        out.append((line, name, obj))
    out.sort(key=lambda t: (t[0], t[1]))
    return [(name, obj) for _, name, obj in out]


def _render_queries() -> str:
    import __spark_entry__ as entry

    lines = [
        "# Driver-contract query registry",
        "",
        "Every registered query (`__spark_entry__.queries()`), its",
        "implementing module, oracle form (`sql` = full DuckDB",
        "recompute, `rows-only` = no SQL twin — the driver records a",
        "weaker rows-only check), and its one-line summary. Names",
        "ending `_contract` verify a sketch/approx mode against a",
        "cross-engine CONTRACT (bounds, monotonicity, recall) rather",
        "than full-value recompute; see COVERAGE.md §2.5.",
        "",
        "| query | module | oracle | summary |",
        "|---|---|---|---|",
    ]
    for name in sorted(entry.REGISTRY):
        fn, sql = entry.REGISTRY[name]
        doc = (inspect.getdoc(fn) or "").strip()
        summary = doc.splitlines()[0] if doc else ""
        if len(summary) > 110:
            summary = summary[:107] + "..."
        summary = summary.replace("|", "\\|")
        oracle = "sql" if sql else "rows-only"
        lines.append(f"| `{name}` | `{fn.__module__}` | {oracle} | {summary} |")
    return "\n".join(lines) + "\n"


def generate() -> dict[str, str]:
    """-> {relative path under docs/api: content}."""
    files: dict[str, str] = {}
    index_rows = []
    for mod_name in _modules():
        rendered = _render_module(mod_name)
        if rendered is None:
            continue
        fname = f"{mod_name}.md"
        files[fname] = rendered
        n = rendered.count("\n## ")
        index_rows.append((mod_name, fname, n))
    files["queries.md"] = _render_queries()
    lines = [
        "# etlutils_spark API reference",
        "",
        "Generated by `tools/gen_api_docs.py` from the package",
        "docstrings — regenerate after changing any public surface",
        "(`tests/test_smoke.py::test_api_docs_in_sync` pins the sync).",
        "The [query registry](queries.md) lists every driver-contract",
        "query and its oracle form.",
        "",
        "| module | public symbols |",
        "|---|---|",
    ]
    for mod_name, fname, n in index_rows:
        lines.append(f"| [`{mod_name}`]({fname}) | {n} |")
    files["INDEX.md"] = "\n".join(lines) + "\n"
    return files


OUT_DIR = os.path.join(REPO, "docs", "api")


def drift(files: dict[str, str]) -> list[str]:
    """Files under docs/api that differ from ``files`` (missing or
    changed), plus stale ones ``files`` no longer has — sorted."""
    out = []
    for fname, content in files.items():
        path = os.path.join(OUT_DIR, fname)
        if not os.path.exists(path):
            out.append(fname)
            continue
        with open(path) as fh:
            if fh.read() != content:
                out.append(fname)
    existing = {
        f for f in os.listdir(OUT_DIR) if f.endswith(".md")
    } if os.path.isdir(OUT_DIR) else set()
    out.extend(f"{stale} (stale)" for stale in existing - set(files))
    return sorted(out)


def main() -> int:
    files = generate()
    if "--check" in sys.argv:
        drifted = drift(files)
        if drifted:
            print("API docs out of sync:", ", ".join(drifted))
            return 1
        print(f"docs/api in sync ({len(files)} files)")
        return 0
    os.makedirs(OUT_DIR, exist_ok=True)
    for stale in set(os.listdir(OUT_DIR)) - set(files):
        if stale.endswith(".md"):
            os.remove(os.path.join(OUT_DIR, stale))
    for fname, content in files.items():
        with open(os.path.join(OUT_DIR, fname), "w") as fh:
            fh.write(content)
    print(f"wrote {len(files)} files to docs/api/")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
