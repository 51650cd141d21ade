"""Reference-computed expected table for the corner rule's driver oracle.

The corner rule is an order-dependent mutable connection graph with
preemption (reference gwv/validators/corner.py:288-346) plus a
whole-graph topology post-pass (is_ZH_corner, corner.py:349-497); a
relational (SQL) encoding would be enormous and fragile (NOTES_r3
"Decisions").  SQL is not the only oracle shape, though: mediaops
already registers generator-forward *expected tables* as oracles
(gwv_spark/queries.py media_features / media_frame_sample).  This
module does the same for corner — run the vendored reference validator
itself (pure Python, read-only import, the same copy the fuzz
differential uses) over the SAME deterministic corpus, write the
violations it reports as `corner_expected.parquet`, and let the driver
oracle be a plain SELECT over it.  The driver's hash comparison then
becomes a true engine-vs-reference differential at the registered SF.

Param rendering mirrors the engine's detail encoding exactly
(rules/__init__.py tag_* encoders + the tag-strip in
queries.gwv_corner_q): a KageLine param serialized by the reference as
(line_number, strdata) (reference validators/__init__.py:57-60) becomes
"{offset}:{text}"; params are joined with "|".
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

from gwv_spark.corpus import (
    CORPUS_TS,
    DEFAULT_SEED,
    gen_record,
    n_docs_for_sf_dir,
    synth_dir_for,
)

REFERENCE_PATH = os.environ.get("GWV_REFERENCE_PATH", "/root/reference")


class ReferenceUnavailable(RuntimeError):
    """The vendored reference is not installed, so no expected table
    computed from it can be built."""


def _import_reference():
    """Import the read-only reference copy with network loaders patched
    (the same setup tests/conftest.py's reference_gwv fixture performs)."""
    ref = Path(REFERENCE_PATH)
    if not ref.exists():
        raise ReferenceUnavailable(
            f"reference repo not found at {ref}; set GWV_REFERENCE_PATH"
        )
    if str(ref) not in sys.path:
        sys.path.insert(0, str(ref))
    import gwv.dump  # noqa: F401

    from gwv_spark.dims import patch_reference_loaders

    patch_reference_loaders()
    import gwv.validator  # noqa: F401

    return sys.modules["gwv"]


def _render_param(p) -> str:
    """Reference param -> the engine's tag-stripped detail string
    (inverse pair of rules/__init__.py tag_*/decode_detail)."""
    if p is None:
        return ""  # tag_n -> "N" -> strip -> ""
    if isinstance(p, bool):
        return str(p)
    if isinstance(p, str):
        return p  # S
    if isinstance(p, int):
        return str(p)  # I
    if isinstance(p, float):
        return repr(p)  # F (double->string)
    if isinstance(p, (list, tuple)):
        if len(p) == 2 and isinstance(p[0], int) and isinstance(p[1], str):
            return f"{p[0]}:{p[1]}"  # L: KageLine (line_number, strdata)
        if all(isinstance(x, str) for x in p):
            return "\x1f".join(p)  # A
    raise ValueError(f"unrenderable reference param {p!r}")


def reference_rule_rows(rule_id: str, records) -> list[tuple[str, str, str]]:
    """Run the vendored reference validator for one rule over
    (name, related, gdata) records -> [(doc_id, errcode, params)] in the
    engine's rendering (queries.gwv_corner_q: tag-stripped, |-joined)."""
    gwv = _import_reference()
    data = {name: (related, gdata) for name, related, gdata in records}
    dump = gwv.dump.Dump(data, CORPUS_TS)
    result = gwv.validator.validate(dump, [rule_id])
    rows = []
    for code, entries in result[rule_id]["result"].items():
        for name, *params in entries:
            rows.append((name, code, "|".join(_render_param(p) for p in params)))
    return rows


def ensure_corner_expected(sf_dir: str, seed: int = DEFAULT_SEED) -> Path:
    """Write corner_expected.parquet next to the synthetic corpus (once
    per GEN_VERSION x SF, like ensure_corpus) and return its path."""
    out = synth_dir_for(sf_dir) / "corner_expected.parquet"
    if out.exists():
        return out
    out.parent.mkdir(parents=True, exist_ok=True)
    n = n_docs_for_sf_dir(sf_dir)
    records = [gen_record(i, n, seed) for i in range(n)]
    rows = reference_rule_rows("corner", records)

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.string()),
            "errcode": pa.array([r[1] for r in rows], pa.string()),
            "params": pa.array([r[2] for r in rows], pa.string()),
        }
    )
    tmp = out.with_suffix(".parquet.tmp")
    pq.write_table(table, tmp)
    tmp.replace(out)
    return out


def corner_expected_sql(sf_dir: str) -> str:
    """Driver-oracle SQL: a SELECT over the reference-computed expected
    table (generated on first call, cached on disk)."""
    path = ensure_corner_expected(sf_dir)
    return f"SELECT doc_id, errcode, params FROM read_parquet('{path}')"
