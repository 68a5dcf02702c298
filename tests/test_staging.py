"""The cache contract. Checked without a Spark session: a frame that
outlives the function persisting it must go through
``recon_spark.staging``, the one ledger the registry releases between
queries (a persist released in its own function is fine; anything else
leaks for the rest of the session), and per-session memos and scratch
dirs live only in staging's session store. One subprocess checks the
store end to end: its scratch data is gone when the process exits, and
writing the raw exports rebuilds the tiers derived from them."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
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


def _module_bindings(tree: ast.Module):
    """(name, annotation source or "", value node) per module-level binding."""
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, ann = node.targets, ""
        elif isinstance(node, ast.AnnAssign):
            targets, ann = [node.target], ast.unparse(node.annotation)
        else:
            continue
        for t in targets:
            yield node.lineno, getattr(t, "id", ""), ann, node.value


def test_no_module_keeps_its_own_staging_ledger():
    offenders = []
    for path, tree in _modules():
        for lineno, name, ann, _ in _module_bindings(tree):
            if "STAGED" in name or ann == "list[DataFrame]":
                offenders.append(f"{path.relative_to(PKG.parent)}:{lineno} {name}")
    assert not offenders, (
        "module-level frame ledger outside recon_spark/staging.py: "
        + ", ".join(offenders)
    )


_CONTAINERS = {"dict", "list", "set", "defaultdict", "OrderedDict"}


def _empty_container(value: ast.AST | None) -> bool:
    """``{}``, ``[]`` or a container constructor: a table filled at run
    time. Weak-keyed dicts are not containers here: their entries die
    with the frame they key."""
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, (ast.List, ast.Set)):
        return not value.elts
    if isinstance(value, ast.Call):
        f = value.func
        return getattr(f, "id", getattr(f, "attr", "")) in _CONTAINERS
    return False


def test_session_state_lives_only_in_the_session_store():
    """Outside staging.py no module reads ``applicationId`` or keeps a
    module-level memo (a run-time table named like a memo, or holding
    frames or schemas), and every ``mkdtemp`` dir is removed by the
    function that made it. A memo elsewhere is a second cache-key scheme
    whose entries and scratch dirs outlive the session."""
    offenders = []
    for path, tree in _modules():
        rel = path.relative_to(PKG.parent)
        for lineno, name, ann, value in _module_bindings(tree):
            memo_like = re.search(r"MEMO|CACHE|OVERRIDE", name) or re.search(
                r"\b(DataFrame|StructType)\b", ann
            )
            if memo_like and _empty_container(value):
                offenders.append(f"{rel}:{lineno} module-level memo {name}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "applicationId":
                offenders.append(f"{rel}:{node.lineno} reads applicationId")
        owner = _innermost_functions(tree)
        for call in [n for n in ast.walk(tree) if isinstance(n, ast.Call)]:
            name = getattr(call.func, "attr", getattr(call.func, "id", ""))
            if name != "mkdtemp":
                continue
            fn = owner[call]
            if fn is None or not any(_method_calls(fn, {"rmtree"})):
                offenders.append(f"{rel}:{call.lineno} mkdtemp not removed in its function")
    assert not offenders, "session state outside recon_spark/staging.py: " + ", ".join(
        offenders
    )


_STORE_SCRIPT = """
import glob, sys, tempfile
from recon_spark import registry as R
from recon_spark.session import get_spark
from recon_spark.sources import fixtures

sf, raw_dir = sys.argv[1], sys.argv[2]
spark = get_spark("store-test", cpus=2, shuffle_partitions=2)
files = lambda df: set(df.inputFiles())
before = R.clean_tables(spark, sf)
a = R._engine_step(spark, sf, "engine_a")
c = R._engine_step(spark, sf, "engine_c")
tmp = tempfile.gettempdir()
assert glob.glob(tmp + "/recon_store_*"), "no store root"
assert all(tmp in f for df in (a, c, *before.values()) for f in files(df))

fixtures.materialize_raw(spark, sf, raw_dir)
lazy = R._lazy_clean_tables(spark, sf)
assert all(raw_dir in f for df in lazy.values() for f in files(df))
after = R.clean_tables(spark, sf)
old = set().union(*map(files, before.values()))
new = set().union(*map(files, after.values()))
assert new and not new & old
b = R._engine_output(spark, sf, "engine_b")
assert files(b) and files(b) <= new
for eng, first in (("engine_a", a), ("engine_c", c)):
    out = R._engine_output(spark, sf, eng)
    assert out is not first and files(out) and not files(out) & files(first), eng
    assert files(R._engine_step(spark, sf, eng)) <= new, eng
spark.stop()
spark = get_spark("store-test-2", cpus=2, shuffle_partitions=2)
R._lazy_clean_tables(spark, sf)
assert not glob.glob(tmp + "/recon_store_*"), "stopped session's root kept"
print("ok")
"""


def test_session_store_rebuilds_over_raw_writes_and_leaves_nothing(tmp_path):
    """One process: clean_tables plus both engine steps write under a
    store root in TMPDIR; materialize_raw after that makes later clean
    and engine reads come from the raw files; the next session's first
    use of the store deletes the stopped session's root; and once the
    process has exited no store directory is left in TMPDIR."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    env = {
        **os.environ,
        "TMPDIR": str(scratch),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": str(PKG.parent),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _STORE_SCRIPT, "/root/testdata/sf0.001", str(tmp_path / "raw")],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("ok"), proc.stderr[-3000:]
    assert not [p.name for p in scratch.iterdir() if p.name.startswith("recon_")]


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
