"""The cache contract, checked without a Spark session: a frame that
outlives the function persisting it must go through
``recon_spark.staging``, the one ledger the registry releases between
queries. A persist released in its own function is fine; anything else
leaks for the rest of the session."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "recon_spark"
STAGING = PKG / "staging.py"
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        if path != STAGING:
            yield path, ast.parse(path.read_text(), filename=str(path))


def _method_calls(node: ast.AST, names: set[str]):
    for sub in ast.walk(node):
        if (
            isinstance(sub, ast.Call)
            and isinstance(sub.func, ast.Attribute)
            and sub.func.attr in names
        ):
            yield sub


def _innermost_functions(tree: ast.Module):
    """Map each call node to the innermost function that contains it."""
    owner: dict[ast.AST, ast.AST] = {}

    def visit(node: ast.AST, fn: ast.AST | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                owner[child] = fn
            visit(child, child if isinstance(child, _SCOPES) else fn)

    visit(tree, None)
    return owner


def test_every_persist_is_staged_or_released_locally():
    offenders = []
    for path, tree in _modules():
        owner = _innermost_functions(tree)
        for call in _method_calls(tree, {"persist", "cache"}):
            fn = owner[call]
            releases = fn is not None and any(_method_calls(fn, {"unpersist"}))
            if not releases:
                name = getattr(fn, "name", "<module>")
                offenders.append(f"{path.relative_to(PKG.parent)}:{call.lineno} in {name}")
    assert not offenders, (
        "persist/cache outlives its function without staging.stage(): "
        + ", ".join(offenders)
    )


def test_no_module_keeps_its_own_staging_ledger():
    offenders = []
    for path, tree in _modules():
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, ann = node.targets, None
            elif isinstance(node, ast.AnnAssign):
                targets, ann = [node.target], node.annotation
            else:
                continue
            for t in targets:
                name = getattr(t, "id", "")
                frame_list = ann is not None and ast.unparse(ann) == "list[DataFrame]"
                if "STAGED" in name or frame_list:
                    offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno} {name}")
    assert not offenders, (
        "module-level frame ledger outside recon_spark/staging.py: "
        + ", ".join(offenders)
    )


class _Frame:
    """Stands in for a DataFrame: counts persist/unpersist calls."""

    def __init__(self) -> None:
        self.persists = self.unpersists = 0

    def persist(self):
        self.persists += 1
        return self

    def unpersist(self):
        self.unpersists += 1
        return self


def test_ledger_loses_no_frame_under_concurrent_stage_and_release():
    """A streaming foreachBatch body stages and releases on the stream
    thread while the main thread does the same: every staged frame must
    be unpersisted exactly once, by whichever release saw it."""
    import sys
    import threading

    from recon_spark import staging

    staging.release_staged()
    n_threads, per_thread = 16, 500
    frames = [[_Frame() for _ in range(per_thread)] for _ in range(n_threads)]
    released = []

    def work(mine):
        for i, f in enumerate(mine):
            assert staging.stage(f) is f
            if i % 7 == 0:
                released.append(staging.release_staged())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(m,)) for m in frames]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    released.append(staging.release_staged())
    flat = [f for mine in frames for f in mine]
    assert sum(released) == len(flat)
    assert all(f.persists == 1 and f.unpersists == 1 for f in flat)
