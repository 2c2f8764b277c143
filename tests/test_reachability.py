"""Reachability guard: every module, top-level function, class and method
in the package is named by code outside ``tests/``, or is on the
allowlist below with its reason.

Pure AST, no Spark. Non-test code is the package, ``perfbench/``,
``tools/``, ``bench.py`` and ``__spark_entry__.py``. A definition counts
as used when a Name or Attribute node, an import alias or an identifier
string constant in live non-test code spells its name. Docstrings do not
count, nor does a definition's own body, a package ``__init__``
re-export, or code inside a dead definition or an unimported module: the
scan runs to a fixpoint, so code reachable only from dead code is dead
too. Corpus queries register through ``@query(...)`` and are roots, as
are dunder methods of live classes.
"""

from __future__ import annotations

import ast
import functools
import pathlib
from collections import defaultdict
from dataclasses import dataclass, field

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "es_to_clickhouse_spark"

#: kept with no non-test caller; key is ``<module path>:<qualname>``
ALLOWLIST = {
    "streaming/sync:StreamingSync":
        "the Structured-Streaming sync the design summary names",
    "streaming/sync:StreamingSync.file_stream":
        "its file-arrival stream entry point",
    "operators/dedup:PersistedNearDupStore":
        "the ingest-time dedup behind SyncEngine.neardup",
    "fsio:is_dir": "the near-dup store's directory probe",
    "sources/ch_http:ClickHouseHttpSource.count_sql":
        "reference-parity SQL, held byte-exact",
    "sources/ch_http:ClickHouseHttpSource.paged_sql":
        "reference-parity SQL, held byte-exact",
    "sources/ch_http:ClickHouseHttpSource.incremental_sql":
        "reference-parity SQL, held byte-exact",
    "sources/ch_http:ClickHouseHttpSource.max_time_sql":
        "reference-parity SQL, held byte-exact",
    "sources/ch_http:ClickHouseHttpSource.fetch_all_paged":
        "the reference's paged loop, held to its transcript",
    "sources/ch_http:ClickHouseHttpSource.ping":
        "the reference's connection check",
    "sources/es:ScrollSession.drain_http_incremental":
        "the reference's incremental scroll loop, held to its transcript",
    "sources/chaos_fixture:Chaos":
        "a test fake: seeded faults for the loopback servers",
}


@dataclass
class _Unit:
    key: str
    name: str
    owner: str | None
    uses: list[str]


@dataclass
class _Module:
    key: str
    stem: str
    always_live: bool
    top: list[str] = field(default_factory=list)
    units: list[_Unit] = field(default_factory=list)


def _names(node: ast.AST, docstrings: set[int]) -> list[str]:
    out = []
    for n in ast.walk(node):
        t = type(n)
        if t is ast.Name:
            out.append(n.id)
        elif t is ast.Attribute:
            out.append(n.attr)
        elif t is ast.alias:
            out += n.name.split(".") + ([n.asname] if n.asname else [])
        elif t is ast.ImportFrom and n.module:
            out += n.module.split(".")
        elif (
            t is ast.Constant
            and type(n.value) is str
            and n.value.isidentifier()
            and id(n) not in docstrings
        ):
            out.append(n.value)
    return out


def _parse(path: pathlib.Path) -> tuple[ast.Module, set[int]]:
    tree = ast.parse(path.read_text())
    docstrings = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    return tree, docstrings


def _is_query(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in fn.decorator_list
    )


@functools.cache
def _index() -> tuple[list[_Module], list[str]]:
    modules = []
    for path in sorted(PKG.rglob("*.py")):
        key = path.relative_to(PKG).with_suffix("").as_posix()
        parts = key.split("/")
        init = parts[-1] == "__init__"
        m = _Module(
            key,
            parts[-2] if init and len(parts) > 1 else parts[-1],
            init or parts[-1] == "__main__",
        )
        tree, docs = _parse(path)
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)) and not _is_query(st):
                m.units.append(_Unit(f"{key}:{st.name}", st.name, None, _names(st, docs)))
            elif isinstance(st, ast.ClassDef):
                ckey = f"{key}:{st.name}"
                rest = [*st.bases, *st.decorator_list]
                for b in st.body:
                    if isinstance(b, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
                        b.name.startswith("__") and b.name.endswith("__")
                    ):
                        m.units.append(_Unit(f"{ckey}.{b.name}", b.name, ckey, _names(b, docs)))
                    else:
                        rest.append(b)
                m.units.append(
                    _Unit(ckey, st.name, None, [x for r in rest for x in _names(r, docs)])
                )
            elif not (init and isinstance(st, ast.ImportFrom)):  # re-exports don't count
                m.top += _names(st, docs)
        modules.append(m)
    outside = [
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    other = [x for p in outside for x in _names(*_parse(p))]
    return modules, other


def _unreached(roots: set[str]) -> set[str]:
    """Module and definition keys no live non-test code names."""
    modules, other = _index()
    roots = roots | {r.split(".")[0] for r in roots}  # a root method keeps its class
    dead: set[str] = set()
    changed = True
    while changed:
        changed = False
        used: dict[str, set[str]] = defaultdict(set)
        for n in other:
            used[n].add("<outside>")
        for m in modules:
            if m.key in dead:
                continue
            for n in m.top:
                used[n].add(m.key)
            for u in m.units:
                if u.key not in dead:
                    for n in u.uses:
                        used[n].add(u.key)
        for m in modules:
            if m.key in dead:
                continue
            own = {m.key} | {u.key for u in m.units}
            if (
                not m.always_live
                and not own & roots
                and not used[m.stem] - own
            ):
                dead |= own
                changed = True
                continue
            for u in m.units:
                if u.key in dead or u.key in roots or u.owner in roots:
                    continue
                if u.owner in dead or not used[u.name] - {u.key}:
                    dead.add(u.key)
                    changed = True
    return dead


def test_every_definition_has_a_non_test_caller():
    assert sorted(_unreached(set(ALLOWLIST))) == []


def test_allowlist_names_only_unreached_code():
    """An entry whose code gained a caller (or was deleted) must leave
    the allowlist."""
    assert sorted(set(ALLOWLIST) - _unreached(set())) == []
