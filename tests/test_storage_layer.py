"""One storage layer: outside ``gwv_spark/fs.py`` no module of
``gwv_spark/`` touches storage itself.  Spark's readers and writers are
the other way in; everything else (list, stat, read, write, rename,
delete) goes through ``fs``, which owns the hidden-name rule.

The check is over the AST.  A use is an import of ``pathlib``,
``shutil``, ``os.path`` or ``urlsplit``, a name bound by one (``Path``,
``shutil``, ``urlsplit``), an ``os.path`` attribute, a call of
``open``/``.open``, or the spelling ``hadoop.fs`` (the py4j route to the
Hadoop FileSystem).  Each use belongs to ``<module>.<top-level def>``,
or to ``<module>.<module>`` for module-level code; :data:`ALLOWED`
names either such a scope or a whole module, with the one-line reason
it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "gwv_spark"
BOUND = {"pathlib", "Path", "shutil", "urlsplit"}

# scope or module -> why it touches storage itself
ALLOWED = {
    "job.<module>": "sys.path.insert of the job main, before gwv_spark imports",
    "stream_job.<module>": "sys.path.insert of the job main, before gwv_spark imports",
    "sketch_job.<module>": "sys.path.insert of the job main, before gwv_spark imports",
    "dedup_job.<module>": "sys.path.insert of the job main, before gwv_spark imports",
    "stream_job.main": "the --compact-after refusal of any scheme but file",
    "corpus": "synthetic corpus writer: local pyarrow files for tests and benches",
    "mediaops.ensure_media": "synthetic media writer: local pyarrow files for tests",
    "textops.ensure_neardup_curve": "synthetic near-dup corpus writer: local pyarrow files",
    "dims": "reads the reference's local YAML data",
    "ref_expected": "reads the local reference checkout for expected tables",
    "sources": "read_dump and its readers: one local dump file, the reference's input",
}


def _uses(node: ast.AST) -> list[str]:
    """The storage uses inside ``node``."""
    found = []
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            found += [a.name for a in n.names if a.name.split(".")[0] in ("pathlib", "shutil")
                      or a.name == "os.path"]
        elif isinstance(n, ast.ImportFrom):
            names = {a.name for a in n.names}
            if n.module in ("pathlib", "shutil", "os.path") or (
                n.module == "os" and "path" in names
            ) or "urlsplit" in names:
                found.append(f"from {n.module}")
        elif isinstance(n, ast.Name) and n.id in BOUND:
            found.append(n.id)
        elif isinstance(n, ast.Attribute) and n.attr == "path" and getattr(n.value, "id", None) == "os":
            found.append("os.path")
        elif isinstance(n, ast.Attribute) and n.attr == "fs" and getattr(n.value, "attr", None) == "hadoop":
            found.append("hadoop.fs")
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and "hadoop.fs" in n.value:
            found.append("hadoop.fs")
        elif isinstance(n, ast.Call) and "open" in (
            getattr(n.func, "id", None), getattr(n.func, "attr", None)
        ):
            found.append("open(")
    return found


def _scopes() -> dict[str, list[str]]:
    """``module.scope`` -> its storage uses, for every module but fs."""
    out: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        if mod == "fs":
            continue
        for stmt in ast.parse(path.read_text()).body:
            named = isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            uses = _uses(stmt)
            if uses:
                out.setdefault(f"{mod}.{stmt.name if named else '<module>'}", []).extend(uses)
    return out


def _allowed_by(scope: str) -> str | None:
    mod = scope.rsplit(".", 1)[0]
    return scope if scope in ALLOWED else mod if mod in ALLOWED else None


def test_storage_goes_through_fs():
    bad = {s: u for s, u in _scopes().items() if _allowed_by(s) is None}
    assert not bad, (
        "route these through gwv_spark.fs, or add them to ALLOWED with "
        f"the reason they stay: {bad}"
    )


def test_allowlist_is_tight():
    """Every entry covers a use, and none sits inside a whole-module
    entry; every reason is one line."""
    used = {_allowed_by(s) for s in _scopes()}
    assert set(ALLOWED) <= used, sorted(set(ALLOWED) - used)
    nested = [k for k in ALLOWED if "." in k and k.rsplit(".", 1)[0] in ALLOWED]
    assert not nested, nested
    assert all(why and "\n" not in why for why in ALLOWED.values())


def test_hidden_name_rule_lives_in_fs():
    """Only fs decides which names are hidden."""
    spelled = sorted(
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
        if '("_", ".")' in p.read_text()
    )
    assert spelled == ["fs.py"], spelled
