"""Propose the next driver priority window (__spark_entry__._PRIORITY).

The external driver hash-checks only the FIRST 50 `queries()` entries
per round. Since r8 every registered query has at least one external
green, so the steady-state policy (declared in __spark_entry__ and
VERDICT r9-r11) is:

1. the two family CANARIES, every round;
2. CHANGED — queries whose op/oracle code (transitively) changed since
   the round of their own last external green, UNLESS the change is a
   shared mechanism already certified by a later consumer. Computed
   mechanically: per query, the dependency tracer collects the source
   spans of every package function reachable from the registered
   callable (plus the registration site itself, which carries the
   oracle SQL literal in the decorator). Per span, its LAST-CHANGE
   round is derived by overlapping it against `git diff -U0
   <round-boundary>..worktree` for each recorded boundary. A span is
   COVERED when some query depending on it has an external green at or
   after its last-change round (shared helpers like the `_t` reader
   are re-certified by any consumer's green — the declared r10/r11
   policy for infra edits). A query needs recheck iff it depends on an
   UNCOVERED span that changed after its own last green. This is the
   r11 lesson (VERDICT r11 item 2): a mid-round rotation missed 33
   entries edited by a later wave; the computation must run at round
   END and be asserted by a test (tests/test_rotation.py).
3. never-checked queries (new operators since the last window froze);
4. fill with the STALEST external greens — oldest last-green round
   first, registry order within a round.

Usage: python scripts/rotate_window.py [--json]
Prints a staleness ledger, the changed-since-green set with the file
that triggered each, and the proposed window as a Python list literal
(paste into __spark_entry__._PRIORITY). Deterministic for a given set
of CORRECTNESS_r*.json files + git history.

A query counts as green-in-round-N when its CORRECTNESS_rN entry has
rows/schema/hash all true (hash may be absent for rows-only checks —
those count too; an entry with err or a false flag does NOT).

Round boundaries: the driver commits round N's artifacts as a commit
whose subject starts with "round N:"; the tree that round N's
correctness ran against is that commit's PARENT (the builder's last
commit of round N). Queries whose last green is the current,
not-yet-committed round have no boundary yet and diff against the most
recent boundary available.
"""

from __future__ import annotations

import argparse
import ast
import dis
import glob
import importlib.util
import inspect
import json
import os
import re
import subprocess
import sys
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50
PKG = "seqdatapipeline_spark"

CANARIES = [
    "form_scan",        # §2.1 scans/sinks sentinel
    "gene_read_count",  # §2.4 agg sentinel
]

# Manual escape hatch: queries to force into the recheck head even if
# the tracer does not flag them (e.g. a behavior change routed through
# data files or configs the tracer cannot see). Normally empty — the
# CHANGED computation below is the mechanical source of truth.
RECHECK: list[str] = []


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True,
        capture_output=True, text=True,
    ).stdout


def _passed(entry: dict) -> bool:
    if entry.get("err"):
        return False
    flags = [
        entry.get(k)
        for k in ("rows_match", "schema_match", "hash_match")
        if k in entry
    ]
    return bool(flags) and all(f is not False for f in flags)


def last_green_rounds() -> dict[str, int]:
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        with open(path) as f:
            data = json.load(f)
        for name, entry in data.items():
            if isinstance(entry, dict) and _passed(entry):
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def round_boundaries() -> dict[int, str]:
    """round -> commit the round's correctness ran against (parent of
    the driver's "round N:" artifact commit)."""
    out: dict[int, str] = {}
    log = _git("log", "--format=%H %s")
    for line in log.splitlines():
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+):", subject)
        if m:
            rnd = int(m.group(1))
            if rnd not in out:  # newest first; keep the latest commit per round
                out[rnd] = _git("rev-parse", f"{sha}^").strip()
    return out


# ---------------------------------------------------------------------------
# Dependency tracer: query -> {(relpath, start_line, end_line), ...}
# ---------------------------------------------------------------------------

def _is_pkg_obj(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    return isinstance(mod, str) and mod.startswith(PKG)


_AST_SPANS: dict[str, dict[str, tuple[int, int]]] = {}


def _ast_spans(path: str) -> dict[str, tuple[int, int]]:
    """qualname -> (start, end) for every def/class in a file, via the
    AST's exact end_lineno. inspect.getsourcelines truncates decorated
    functions whose decorator carries a multi-line string argument (the
    @q(..., oracle_sql) registration idiom!), so it cannot be trusted
    here — a span that stops before the function body would silently
    exempt body edits from the recheck computation."""
    if path in _AST_SPANS:
        return _AST_SPANS[path]
    with open(path) as f:
        tree = ast.parse(f.read())
    spans: dict[str, tuple[int, int]] = {}

    def visit(node, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                qual = f"{prefix}{child.name}"
                start = min(
                    [child.lineno] + [d.lineno for d in child.decorator_list]
                )
                spans[qual] = (start, child.end_lineno or child.lineno)
                inner = qual + (".<locals>." if not isinstance(child, ast.ClassDef) else ".")
                visit(child, inner)
            else:
                visit(child, prefix)

    visit(tree, "")
    _AST_SPANS[path] = spans
    return spans


def _span(obj) -> tuple[str, int, int] | None:
    try:
        path = inspect.getsourcefile(obj)
    except (OSError, TypeError):
        return None
    if not path or PKG not in path:
        return None
    rel = os.path.relpath(path, REPO)
    qual = getattr(obj, "__qualname__", None)
    if qual and "<lambda>" not in qual:
        hit = _ast_spans(path).get(qual)
        if hit:
            return (rel, hit[0], hit[1])
    try:
        lines, start = inspect.getsourcelines(obj)
    except (OSError, TypeError):
        return None
    return (rel, start, start + len(lines) - 1)


def _const_span(mod: types.ModuleType, name: str) -> tuple[str, int, int] | None:
    """Module-level constant: 1-line span at its assignment (so an
    edited regex/threshold constant still flags its consumers)."""
    try:
        src, path = inspect.getsource(mod), inspect.getsourcefile(mod)
    except (OSError, TypeError):
        return None
    if not path or PKG not in path:
        return None
    for i, line in enumerate(src.splitlines(), start=1):
        if re.match(rf"{re.escape(name)}\s*[:=]", line):
            return (os.path.relpath(path, REPO), i, i)
    return None


def _code_objects(code) -> list:
    out = [code]
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            out.extend(_code_objects(const))
    return out


def _names_used(fn) -> set[str]:
    names: set[str] = set()
    for code in _code_objects(fn.__code__):
        names.update(code.co_names)
        names.update(code.co_freevars)
    return names


def _local_imports(fn) -> list:
    """Objects bound by fn's function-local imports (``from .extensions
    import corpus as cp`` inside a registration body), resolved relative
    to fn's module. They never show up in ``fn.__globals__``, so without
    this an edit reached only through such an import would not flag its
    queries."""
    mod = sys.modules.get(getattr(fn, "__module__", ""), None)
    package = getattr(mod, "__package__", None)
    out: list = []
    for code in _code_objects(fn.__code__):
        # IMPORT_NAME pops the two constants loaded before it: the
        # relative level and the from-list.
        prev: list = [None, None]
        target = None
        for ins in dis.get_instructions(code):
            if ins.opname == "IMPORT_NAME":
                level, fromlist = prev
                try:
                    name = importlib.util.resolve_name("." * (level or 0) + ins.argval, package)
                    target = importlib.import_module(name)
                except (ImportError, ValueError):
                    target = None
                    continue
                if not fromlist:
                    out.append(target)
            elif ins.opname == "IMPORT_FROM" and target is not None:
                attr = getattr(target, ins.argval, None)
                if attr is None:
                    try:
                        attr = importlib.import_module(f"{target.__name__}.{ins.argval}")
                    except ImportError:
                        continue
                out.append(attr)
            prev = [prev[1], ins.argval if ins.opname == "LOAD_CONST" else None]
    return out


def trace_spans(fn, seen: set | None = None) -> set[tuple[str, int, int]]:
    """Source spans of fn plus every package function/class/constant
    transitively reachable through its globals and closure."""
    if seen is None:
        seen = set()
    key = getattr(fn, "__code__", fn)
    if id(key) in seen:
        return set()
    seen.add(id(key))
    spans: set[tuple[str, int, int]] = set()
    s = _span(fn)
    if s:
        spans.add(s)
    g = getattr(fn, "__globals__", {})
    names = _names_used(fn)
    # closure cells may hold functions too
    closure_vals = [
        c.cell_contents for c in (fn.__closure__ or ())
        if c.cell_contents is not None
    ] if getattr(fn, "__closure__", None) else []
    resolved = [g[n] for n in names if n in g] + closure_vals + _local_imports(fn)
    for obj in resolved:
        if isinstance(obj, types.ModuleType) and getattr(obj, "__name__", "").startswith(PKG):
            # attribute calls: lay.foo(...) — add module attrs named in
            # co_names that are package callables, plus constants
            for n in names:
                attr = getattr(obj, n, None)
                if attr is None:
                    continue
                if callable(attr):
                    spans |= _trace_obj(attr, seen)
                else:
                    cs = _const_span(obj, n)
                    if cs:
                        spans.add(cs)
        elif callable(obj) and _is_pkg_obj(obj):
            spans |= _trace_obj(obj, seen)
        elif not callable(obj) and not isinstance(obj, types.ModuleType):
            # module-level constant in fn's own module
            mod = sys.modules.get(getattr(fn, "__module__", ""), None)
            if mod is not None:
                for n in names:
                    if n in g and g[n] is obj:
                        cs = _const_span(mod, n)
                        if cs:
                            spans.add(cs)
    return spans


def _trace_obj(obj, seen: set) -> set[tuple[str, int, int]]:
    """trace_spans for a package function; for a package class, its
    span plus the trace of each of its methods."""
    if not (callable(obj) and _is_pkg_obj(obj)):
        return set()
    if not inspect.isclass(obj):
        return trace_spans(obj, seen)
    spans = {s for s in [_span(obj)] if s}
    for _, meth in inspect.getmembers(obj, inspect.isfunction):
        spans |= trace_spans(meth, seen)
    return spans


# ---------------------------------------------------------------------------
# Reachability: package top-level defs that no query or harness reaches
# ---------------------------------------------------------------------------

# Code (not docstrings or comments) in these paths roots the scan, along
# with every registered query and the package's own module-level code.
HARNESS = ["bench.py", "__spark_entry__.py", "perfbench", "scripts"]


def _py_files(rel: str) -> list[str]:
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        return [path]
    return sorted(glob.glob(os.path.join(path, "**", "*.py"), recursive=True))


def _identifiers(nodes, reads_only: bool = False) -> set[str]:
    """Names and attribute names in the nodes; with ``reads_only`` an
    assignment's own target is left out (it is not a read of itself)."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name) and (not reads_only or isinstance(sub.ctx, ast.Load)):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
    return out


def _imported_names(tree, package: str | None) -> set[tuple[str, str]]:
    """(module, name) for every ``from <package module> import name``
    in the tree, relative imports resolved against ``package``."""
    out: set[tuple[str, str]] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            try:
                mod = importlib.util.resolve_name("." * node.level + (node.module or ""), package)
            except (ImportError, ValueError):
                continue
            if mod.startswith(PKG):
                out |= {(mod, alias.name) for alias in node.names}
    return out


def _names_on(bound: list, idents: set[str]) -> set[tuple[str, str]]:
    """(module, name) for each identifier looked up on a bound package
    module."""
    return {
        (obj.__name__, n)
        for obj in bound
        if isinstance(obj, types.ModuleType) and obj.__name__.startswith(PKG)
        for n in idents
        if hasattr(obj, n)
    }


def _resolve(bound: list, idents: set[str]) -> list:
    """The bound objects, plus each identifier looked up on the bound
    package modules (``lay.write_curated_bucketed``, also when reached
    through ``self.layout``)."""
    return list(bound) + [getattr(sys.modules[m], n) for m, n in _names_on(bound, idents)]


def _harness_roots() -> tuple[list, set[tuple[str, str]]]:
    """Package objects that harness code imports or names, and the
    (module, name) pairs it imports or looks up (module constants have
    no identity of their own to trace)."""
    roots: list = []
    names: set[tuple[str, str]] = set()
    for rel in HARNESS:
        for path in _py_files(rel):
            with open(path) as f:
                tree = ast.parse(f.read())
            bound: list = []
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
                    mod = importlib.import_module(node.module)
                    for alias in node.names:
                        obj = getattr(mod, alias.name, None)
                        if obj is None:
                            obj = importlib.import_module(f"{node.module}.{alias.name}")
                        bound.append(obj)
            idents = _identifiers([tree])
            roots += _resolve(bound, idents)
            names |= _imported_names(tree, None) | _names_on(bound, idents)
    return roots, names


def _module_level_nodes(tree) -> list:
    """A module's own top-level code: decorators (the oracle builders
    inside ``@q(...)``), defaults, class bases and module-level
    statements, but not def or class bodies."""
    nodes: list = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            nodes += node.decorator_list + node.args.defaults + node.args.kw_defaults
        elif isinstance(node, ast.ClassDef):
            nodes += node.decorator_list + node.bases + node.keywords
        else:
            nodes.append(node)
    return [n for n in nodes if n is not None]


def _module_level_roots(mod: types.ModuleType, tree) -> list:
    """Objects named by a module's own top-level code."""
    # __all__ entries are the module's declared exports.
    idents = _identifiers(_module_level_nodes(tree)) | set(getattr(mod, "__all__", ()))
    return _resolve([vars(mod)[n] for n in idents if n in vars(mod)], idents)




def unreached_defs(keep=()) -> dict[str, tuple[str, int, int]]:
    """'module.name' -> span for every top-level package def or class
    that no registered query, no harness file and no package
    module-level code reaches through the dependency tracer, and for
    every module-level constant (a non-callable top-level assignment)
    that none of them reads. Tests are not roots: code only a test
    reaches is checked by nothing.

    A constant is read when a reached def names it, when module-level
    code of its own module names it, or when a harness file or any
    package module imports it or looks it up on its module.

    ``keep`` names defs or constants ('io.layout.reattach_curated')
    kept on purpose: what they reach counts as reached, and each is
    reported only while nothing else reaches it."""
    import __spark_entry__ as entrymod

    roots, names_read = _harness_roots()
    roots += list(entrymod.queries().values())
    defs: dict[str, tuple[str, int, int]] = {}
    consts: dict[str, tuple[str, str, tuple[str, int, int]]] = {}
    for path in _py_files(PKG):
        rel = os.path.relpath(path, REPO)
        modname = rel[:-3].replace(os.sep, ".").removesuffix(".__init__")
        mod = importlib.import_module(modname)
        with open(path) as f:
            tree = ast.parse(f.read())
        roots += _module_level_roots(mod, tree)
        names_read |= {(modname, n) for n in _identifiers(_module_level_nodes(tree), True)}
        names_read |= _imported_names(tree, mod.__package__)
        spans = _ast_spans(path)
        prefix = modname.removeprefix(PKG).lstrip(".") + "."
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{prefix}{node.name}".lstrip(".")] = (rel, *spans[node.name])
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    # __all__ is read by star-imports, not by code
                    if not isinstance(t, ast.Name) or t.id == "__all__":
                        continue
                    span = _const_span(mod, t.id)
                    if span and not callable(vars(mod).get(t.id)):
                        consts[f"{prefix}{t.id}".lstrip(".")] = (modname, t.id, span)
    seen: set = set()
    reached: set = set()
    for obj in roots:
        reached |= _trace_obj(obj, seen)
    kept: set = set()
    for name in keep:
        modname, _, attr = f"{PKG}.{name}".rpartition(".")
        kept |= _trace_obj(getattr(importlib.import_module(modname), attr), seen)
    consts = {
        name: span for name, (modname, attr, span) in consts.items()
        if (modname, attr) not in names_read
    }
    return {
        name: span for name, span in {**defs, **consts}.items()
        if span not in reached and (name in keep or span not in kept)
    }


def diff_hunks(base: str) -> dict[str, list[tuple[int, int]]]:
    """relpath -> [(new_start, new_end)] for base..worktree, -U0."""
    out: dict[str, list[tuple[int, int]]] = {}
    try:
        diff = _git("diff", "-U0", base, "--", PKG)
    except subprocess.CalledProcessError:
        return out
    path = None
    for line in diff.splitlines():
        if line.startswith("+++ b/"):
            path = line[6:]
        elif line.startswith("@@") and path:
            m = re.match(r"@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", line)
            if m:
                start = int(m.group(1))
                count = int(m.group(2)) if m.group(2) is not None else 1
                # count==0 means pure deletion at this point: the
                # surrounding lines still shifted — flag the line itself
                out.setdefault(path, []).append((start, start + max(count, 1) - 1))
    return out


def _overlaps(span: tuple[str, int, int], hunks: dict[str, list[tuple[int, int]]]) -> bool:
    rel, lo, hi = span
    for h_lo, h_hi in hunks.get(rel, ()):
        if h_lo <= hi and lo <= h_hi:
            return True
    return False


def changed_since_green(
    registered: list[str],
    last_green: dict[str, int],
    boundaries: dict[int, str],
    queries: dict,
) -> dict[str, str]:
    """query -> 'file:span (reason)' evidence, for queries that depend
    on an UNCOVERED span changed after their own last external green.

    Span last-change round: 1 + max{N : span overlaps
    diff(boundary(N), worktree)} (1 if it never overlaps; latest+1 =
    the in-progress round if it overlaps even the newest boundary's
    diff). Covered: some query depending on the span has
    last_green >= that round — a shared mechanism re-certified through
    any consumer."""
    rounds = sorted(boundaries)
    hunks_by_round = {n: diff_hunks(boundaries[n]) for n in rounds}
    current_round = (rounds[-1] + 1) if rounds else 1

    all_spans: dict[str, set] = {n: trace_spans(queries[n]) for n in registered}
    span_users: dict[tuple, list[str]] = {}
    for name, spans in all_spans.items():
        for s in spans:
            span_users.setdefault(s, []).append(name)

    def last_change_round(span) -> int:
        changed_in = [n for n in rounds if _overlaps(span, hunks_by_round[n])]
        return (max(changed_in) + 1) if changed_in else 1

    lcr_cache: dict[tuple, int] = {}
    changed: dict[str, str] = {}
    for name in registered:
        green = last_green.get(name)
        if green is None:
            continue  # never checked — handled as first-time
        for span in sorted(all_spans[name]):
            if span not in lcr_cache:
                lcr_cache[span] = last_change_round(span)
            lcr = lcr_cache[span]
            if lcr <= green:
                continue  # unchanged since this query's own green
            covered = any(
                last_green.get(p, 0) >= lcr for p in span_users[span]
            )
            if not covered:
                changed[name] = (
                    f"{span[0]}:{span[1]}-{span[2]} "
                    f"(changed r{lcr}, own green r{green})"
                )
                break
    return changed


def propose_window() -> dict:
    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    registered = list(qmap.keys())
    last_green = last_green_rounds()
    boundaries = round_boundaries()
    changed = changed_since_green(registered, last_green, boundaries, qmap)

    never = [n for n in registered if n not in last_green]
    recheck = sorted(
        set(changed) | {n for n in RECHECK if n in registered},
        key=lambda n: (last_green.get(n, 0), registered.index(n)),
    )
    recheck = [n for n in recheck if n not in CANARIES]
    head = CANARIES + recheck
    overflow = len(head) - WINDOW
    if overflow > 0:
        # The changed-since-green set IS the external-green contract
        # (tests/test_rotation.py asserts every member sits inside the
        # driver's window); the canaries are convenience sentinels
        # that re-verify most rounds anyway — trim them first instead
        # of silently truncating the contract's tail (found when the
        # r12 optimization wave grew the changed set to 49).
        head = CANARIES[min(overflow, len(CANARIES)):] + recheck
    if len(recheck) > WINDOW:
        # Even with every canary trimmed the changed set cannot fit:
        # the final [:WINDOW] slice below WILL truncate changed
        # entries — the exact silent contract violation this function
        # exists to avoid (ADVICE r12). Fail loudly at proposal time
        # instead of letting tests/test_rotation.py discover it later;
        # the fix is to split the change wave across rounds (or green
        # part of it externally first), not to widen the window.
        raise SystemExit(
            f"rotate_window: {len(recheck)} changed-since-green queries "
            f"exceed the {WINDOW}-slot window — the proposal would "
            f"silently truncate the changed tail. Split the change "
            f"wave or re-green part of it before rotating."
        )
    fresh = [n for n in never if n not in head]
    stale = sorted(
        (n for n in registered if n in last_green and n not in head),
        key=lambda n: (last_green[n], registered.index(n)),
    )
    window = (head + fresh + stale)[:WINDOW]
    return {
        "window": window,
        "changed": changed,
        "last_green": last_green,
        "never": never,
        "fresh": fresh,
        "stale_in_window": [n for n in window if n in stale],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", action="store_true", help="machine-readable output")
    args = ap.parse_args()

    res = propose_window()
    if args.json:
        print(json.dumps({"window": res["window"], "changed": res["changed"]}, indent=2))
        return

    ledger: dict[int, int] = {}
    for n, rnd in res["last_green"].items():
        ledger[rnd] = ledger.get(rnd, 0) + 1
    print("# staleness ledger (last external green round -> #queries):")
    for rnd in sorted(ledger):
        print(f"#   r{rnd}: {ledger[rnd]}")
    print(f"# changed-since-last-green: {len(res['changed'])}")
    for n, why in sorted(res["changed"].items()):
        print(f"#   {n}: {why}")
    print(f"# window: {len(CANARIES)} canaries + "
          f"{len([n for n in res['window'] if n in res['changed']])} changed + "
          f"{len([n for n in res['window'] if n in res['fresh']])} first-time + "
          f"{len(res['stale_in_window'])} stalest")
    lg = res["last_green"]
    print("_PRIORITY = [")
    for n in res["window"]:
        tags = []
        if n in CANARIES:
            tags.append("canary")
        if n in res["changed"]:
            tags.append("CHANGED since green")
        if n not in lg:
            tags.append("never checked")
        else:
            tags.append(f"last green r{lg[n]}")
        print(f'    "{n}",  # {", ".join(tags)}')
    print("]")


if __name__ == "__main__":
    main()
