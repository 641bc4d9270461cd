"""The rotation contract (VERDICT r11 item 2): every query whose
op/oracle code changed since its own last external green must sit in
the first 50 `queries()` entries — the driver's correctness window —
so the next round's external check certifies the CURRENT code.

The r11 gap this pins: a mid-round rotation froze the window, then a
late edit wave changed 33 queries' code, and their stale greens
shipped as if current. With this test, any edit made after
__spark_entry__._PRIORITY was last regenerated fails the suite until
`python scripts/rotate_window.py` is re-run and its output pasted in.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))


def _git_available() -> bool:
    import subprocess

    try:
        subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, check=True,
            capture_output=True,
        )
        return True
    except Exception:
        return False


pytestmark = pytest.mark.skipif(
    not _git_available(), reason="needs the git history for round boundaries"
)


def test_priority_names_are_registered_and_unique():
    import __spark_entry__ as entrymod

    registered = set(entrymod.queries().keys())
    prio = entrymod._PRIORITY
    assert len(prio) == len(set(prio)), "duplicate names in _PRIORITY"
    unknown = [n for n in prio if n not in registered]
    assert not unknown, f"_PRIORITY names not registered: {unknown}"
    assert len(prio) <= 50, "window is 50 slots; extra entries never run"


def test_changed_since_green_queries_lead_the_window():
    import __spark_entry__ as entrymod
    import rotate_window as rw

    res = rw.propose_window()
    window = list(entrymod.queries().keys())[:50]
    missing = {
        n: why for n, why in res["changed"].items() if n not in window
    }
    assert not missing, (
        "queries changed since their last external green are OUTSIDE the "
        "driver's 50-entry correctness window — re-run "
        "`python scripts/rotate_window.py` and refresh "
        f"__spark_entry__._PRIORITY: {missing}"
    )


def test_overlap_logic():
    import rotate_window as rw

    hunks = {"a.py": [(10, 12), (40, 40)]}
    assert rw._overlaps(("a.py", 1, 10), hunks)      # touches start
    assert rw._overlaps(("a.py", 12, 20), hunks)     # touches end
    assert rw._overlaps(("a.py", 5, 50), hunks)      # spans
    assert rw._overlaps(("a.py", 40, 40), hunks)     # single line
    assert not rw._overlaps(("a.py", 13, 39), hunks)  # between hunks
    assert not rw._overlaps(("b.py", 10, 12), hunks)  # other file


def test_diff_hunk_parsing_coordinates(tmp_path):
    """diff_hunks must return NEW-side (worktree) line ranges — the
    coordinate system the AST spans live in — including the
    pure-deletion shape (count 0) that still flags its anchor line."""
    import subprocess

    import rotate_window as rw

    sub = tmp_path
    subprocess.run(["git", "init", "-q", str(sub)], check=True)
    pkg = sub / rw.PKG
    pkg.mkdir()
    f = pkg / "m.py"
    f.write_text("\n".join(f"line{i}" for i in range(1, 21)) + "\n")
    env = {"GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
           "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t"}
    import os as _os

    env = {**_os.environ, **env}
    subprocess.run(["git", "-C", str(sub), "add", "-A"], check=True, env=env)
    subprocess.run(["git", "-C", str(sub), "commit", "-qm", "base"], check=True, env=env)
    base = subprocess.run(
        ["git", "-C", str(sub), "rev-parse", "HEAD"],
        check=True, capture_output=True, text=True, env=env,
    ).stdout.strip()
    # edit line 5, insert 2 lines after line 10, delete line 18
    lines = [f"line{i}" for i in range(1, 21)]
    lines[4] = "line5-EDITED"
    lines = lines[:10] + ["inserted-a", "inserted-b"] + lines[10:]
    del lines[19]  # original line18 (shifted by the insert)
    f.write_text("\n".join(lines) + "\n")

    old_repo, old_pkg = rw.REPO, rw.PKG
    try:
        rw.REPO = str(sub)
        hunks = rw.diff_hunks(base)
    finally:
        rw.REPO = old_repo
        rw.PKG = old_pkg
    ranges = hunks[f"{old_pkg}/m.py"]
    assert (5, 5) in ranges                       # in-place edit
    assert any(lo <= 11 <= hi for lo, hi in ranges)  # insertion, new coords
    # deletion anchors near the shifted line in new coordinates
    assert any(18 <= lo <= 20 for lo, hi in ranges)


def test_last_green_rounds_ignores_failures(tmp_path, monkeypatch):
    import json

    import rotate_window as rw

    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "q_ok": {"rows_match": True, "schema_match": True, "hash_match": True},
        "q_bad": {"rows_match": True, "schema_match": True, "hash_match": False},
        "q_err": {"rows_match": True, "err": "boom"},
        "q_rows_only": {"rows_match": True, "schema_match": True},
    }))
    (tmp_path / "CORRECTNESS_r05.json").write_text(json.dumps({
        "q_ok": {"rows_match": True, "schema_match": True, "hash_match": True},
    }))
    monkeypatch.setattr(rw, "REPO", str(tmp_path))
    lg = rw.last_green_rounds()
    assert lg["q_ok"] == 5          # most recent green wins
    assert "q_bad" not in lg        # false flag is not a green
    assert "q_err" not in lg        # err is not a green
    assert lg["q_rows_only"] == 3   # rows-only counts


def test_ast_spans_cover_decorated_function_bodies():
    """The span resolver must cover the FULL registration: decorator
    (with its multi-line oracle-SQL argument) through the last body
    line. inspect.getsourcelines truncates exactly this idiom — its
    block finder can stop inside the decorator's string argument —
    which would silently exempt body edits from the recheck
    computation (the bug found while building the r12 tracer)."""
    import __spark_entry__ as entrymod
    import rotate_window as rw

    fn = entrymod.queries()["dedup_embedding_cosine"]
    rel, start, end = rw._span(fn)
    with open(os.path.join(REPO, rel)) as f:
        lines = f.readlines()
    block = "".join(lines[start - 1:end])
    # the decorator's oracle literal AND the body's return must both
    # fall inside the span
    assert '"dedup_embedding_cosine"' in block, "decorator/oracle outside span"
    assert "embedding_near_dup_pairs" in block, (
        "function body truncated out of the span (inspect fallback?)"
    )
    # and the next top-level registration must NOT be inside it
    assert '"ann_topk_cosine"' not in block


def test_registry_import_alone_registers_every_query():
    """`registry.QUERIES` must be complete without anyone importing
    registry_ext / registry_scalars first: re-import the package from
    scratch (the loaded modules are restored afterwards) and compare
    with the entry point's query set."""
    import __spark_entry__ as entrymod

    pkg = "seqdatapipeline_spark"
    saved = {n: m for n, m in sys.modules.items() if n == pkg or n.startswith(pkg + ".")}
    for n in saved:
        del sys.modules[n]
    try:
        from seqdatapipeline_spark.registry import QUERIES

        fresh = set(QUERIES)
    finally:
        for n in [n for n in sys.modules if n == pkg or n.startswith(pkg + ".")]:
            del sys.modules[n]
        sys.modules.update(saved)
    assert "chunk_documents" in fresh
    assert fresh == set(entrymod.queries())


def test_never_checked_queries_lead_the_window():
    import __spark_entry__ as entrymod
    import rotate_window as rw

    last_green = rw.last_green_rounds()
    registered = list(entrymod.queries().keys())
    never = [n for n in registered if n not in last_green]
    window = registered[:50]
    missing = [n for n in never if n not in window]
    assert not missing, (
        f"queries with no external green ever are outside the window: {missing}"
    )


def test_trace_follows_function_local_imports():
    """Registration bodies bind their operator modules with
    function-local imports (``from .extensions import corpus as cp``);
    those never appear in ``fn.__globals__``. The tracer must follow
    them, or an edit to the operator never flags its query."""
    import __spark_entry__ as entrymod
    import rotate_window as rw
    from seqdatapipeline_spark.extensions import corpus

    query = entrymod.queries()["chunk_documents"]
    assert rw._span(corpus.chunk_documents) in rw.trace_spans(query)


# Package defs that no registered query or harness reaches, and module
# constants that no reached code reads, each kept on purpose. Everything
# else outside the tracer's closure is dead code that no oracle checks:
# delete it, or reach it from a query.
KEEP = {
    "__version__": "the package's declared version, for readers of the installed package",
    "extensions.textstats.TOKEN_RE": "the token pattern re_token_count counts and the oracles spell out",
    **{
        f"schemas.{name}": "documented D1-D9 data-model struct"
        for name in (
            "JOB_FORM", "READ", "ALIGNMENT", "FEATURE",
            "COVERAGE", "FRAGMENT_HIST", "STATUS_LOG", "MEDIA",
        )
    },
    "ops.joins.interval_join_broadcast": "reference the interval-count tests compare against",
    "ops.joins.interval_join_binned": "reference the interval-count tests compare against",
    "io.layout.reattach_curated": "recovers the curated catalog after a process restart",
    "io.layout.refresh_curated_edges": "append side of the curated tier",
    "io.layout.refresh_curated_ivf": "append side of the curated tier",
    "streaming.watch.stream_into_curated": "append side of the curated tier (with run_batches)",
    "streaming.watch.dir_poll_stream": "watch-folder source of the curated tier's stream ingest",
    "streaming.stateful.sample_status_stream": "status-table family, left for a later decision",
    "pipelines.dag.run_pipeline": "status-table family, left for a later decision",
}


def test_every_package_def_is_reached():
    import rotate_window as rw

    unreached = rw.unreached_defs(KEEP)
    assert set(unreached) == set(KEEP), (
        "package defs or constants reached by no registered query, harness "
        "or module-level code (delete them or add a reasoned KEEP entry): "
        f"{sorted(set(unreached) - set(KEEP))}; KEEP entries now reached "
        f"(drop them): {sorted(set(KEEP) - set(unreached))}"
    )
