"""No dead code in ``gwv_spark/``: every function is reachable from an
entry point, or is on :data:`ALLOWED` with the one-line reason it stays.

The graph is name-based over the AST.  Its nodes are the top-level
functions and class methods of every ``gwv_spark`` module (a nested
function belongs to the def around it).  A node references every
identifier and attribute name in its decorators, defaults and body, and
a reached node reaches every node of a name it references, whatever the
module.  That over-approximates calls, so a node it reports unreached
is called by nothing at all.

Roots:
- ``main`` of the four jobs (job, stream_job, sketch_job, dedup_job);
- every ``@rule`` / ``@q`` registration, and the oracle handed to ``@q``
  (module-level code of ``gwv_spark`` runs on import, so every name it
  uses is a root);
- every name used in ``__spark_entry__.py``, ``perfbench/`` and
  ``tools/``.

Tests are not roots: a function that only its own unit test calls
carries code and no behaviour.  A function that a test uses as a
reference or fixture, or that the north rule names, stays on the
allowlist; what only an allowed function calls stays with it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "gwv_spark"
OUTSIDE = [
    REPO / "__spark_entry__.py",
    *sorted((REPO / "perfbench").rglob("*.py")),
    *sorted((REPO / "tools").rglob("*.py")),
]
JOBS = ("job", "stream_job", "sketch_job", "dedup_job")
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)

# "module.qualname" -> why it stays although no entry point reaches it
ALLOWED = {
    "engine.result_json": "the reference's result JSON; the byte-parity harness compares it",
    "queries.gwv_corner_boxhits_q": "corner box hits, checked against their relational mirror",
    "gwv_sql.corner_boxhits_sql": "the relational mirror of the corner box hits",
    "components.near_dup_groups": "near-dup groups; reference for the streamed pair closure",
    "sketchstore.sketch_column_stats": "north-rule column stats in one call (null rate, HLL, t-digest)",
    "sketchstore.top_values": "heavy hitters of one column from the column stats",
    "streaming.stream_sketch_drain": "drain of the sketch stream, as every stream tier has one",
    "corpus.spark_generate": "Spark-side corpus generator; must equal the arrow writer",
    "mediaops.synth_media": "synthetic media blobs behind the media round-trip fixtures",
    "parse.gdata_to_spans": "GlyphWiki gdata to spans, the parser of real dumps",
    "sources.read_dump": "reads a real GlyphWiki dump (csv or pipe table)",
    "stats.snapshot_ks": "north-rule KS drift between two snapshots",
    "streaming.stream_drift_monitor_drain": "the drift stream (north rule: drift on growing tables)",
    "streaming.ri_outstanding": "outstanding RI set of the change log; reference for the fold",
    "streaming.ri_outstanding_violations": "that set shaped as violations; equals the batch rules",
}


def _names(*nodes: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for node in nodes
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _registered(fn: ast.AST) -> bool:
    for d in fn.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) in ("rule", "q"):
            return True
    return False


def _graph() -> tuple[dict[str, set[str]], set[str], set[str]]:
    """(node -> names it references, root nodes, root names)."""
    nodes: dict[str, set[str]] = {}
    root_nodes: set[str] = set()
    root_names = _names(*(ast.parse(p.read_text()) for p in OUTSIDE))
    for path in sorted(PKG.rglob("*.py")):
        parts = path.relative_to(PKG).with_suffix("").parts
        mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, FUNCS):
                defs = {stmt.name: stmt}
            elif isinstance(stmt, ast.ClassDef):
                defs = {f"{stmt.name}.{m.name}": m for m in stmt.body if isinstance(m, FUNCS)}
                rest = [m for m in stmt.body if not isinstance(m, FUNCS)]
                root_names |= _names(*rest, *stmt.bases, *stmt.decorator_list)
            else:
                root_names |= _names(stmt)
                continue
            for qual, fn in defs.items():
                key = f"{mod}.{qual}" if mod else qual
                nodes[key] = _names(fn)
                if (
                    _registered(fn)
                    or fn.name.startswith("__")
                    or (mod in JOBS and qual == "main")
                ):
                    root_nodes.add(key)
    return nodes, root_nodes, root_names


def _reached(nodes: dict[str, set[str]], keys, names) -> set[str]:
    by_name: dict[str, list[str]] = {}
    for key in nodes:
        by_name.setdefault(key.rsplit(".", 1)[-1], []).append(key)
    todo = list(keys) + [k for n in names for k in by_name.get(n, ())]
    seen: set[str] = set()
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo.extend(k for n in nodes[key] for k in by_name.get(n, ()))
    return seen


def test_every_unreached_function_is_allowed():
    nodes, root_nodes, root_names = _graph()
    kept = _reached(nodes, root_nodes | set(ALLOWED), root_names)
    dead = sorted(set(nodes) - kept)
    assert not dead, (
        "no entry point reaches these: delete them, or add them to "
        f"ALLOWED with the reason they stay: {dead}"
    )


def test_allowlist_is_tight():
    """Every allowed entry exists, is unreached from the roots, and
    gives its reason in one line."""
    nodes, root_nodes, root_names = _graph()
    assert set(ALLOWED) <= set(nodes), sorted(set(ALLOWED) - set(nodes))
    live = set(ALLOWED) & _reached(nodes, root_nodes, root_names)
    assert not live, f"reachable from a root, drop from ALLOWED: {sorted(live)}"
    assert all(why and "\n" not in why for why in ALLOWED.values())


def test_only_run_suite_uses_the_fused_union():
    """No lifecycle writes violations through the fused union
    ``engine.run_rules``: every write goes per rule through
    ``engine.run_rules_concurrent``.  Inside ``gwv_spark/`` only
    ``engine.run_suite`` (the fused measurement probe) references it;
    the driver contract and the tests use it from outside."""
    nodes, _, _ = _graph()
    users = sorted(key for key, names in nodes.items() if "run_rules" in names)
    top = sorted(
        str(path.relative_to(PKG))
        for path in PKG.rglob("*.py")
        for stmt in ast.parse(path.read_text()).body
        if not isinstance(stmt, FUNCS) and "run_rules" in _names(stmt)
    )
    assert users == ["engine.run_suite"] and not top, (users, top)
