"""The snapshot's format and file-layout rules each live in one module.

``lake/planner.py`` owns the file-layout rules: no other module of
``rocket_etl_spark`` reads a file entry's ``kind``, ``kr`` or ``bloom``
field, or hashes keys into a retired layout's buckets (``bucket_of``
with a legacy layout's ``num_buckets``).  The planner and
``lake/table.py``, which owns the snapshot format, are the only modules
that walk a snapshot's bucket maps (a ``["buckets"]`` or ``["legacy"]``
subscript, or a ``.get``/``.pop`` of those names); and ``lake/table.py``
alone publishes a file with ``os.link``.  A second copy of one of these
rules is how a reader or a writer drifts from the others — the
merge-on-read stale-row bug was one.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import rocket_etl_spark

PKG = Path(rocket_etl_spark.__file__).parent
PLANNER = "lake/planner.py"
TABLE = "lake/table.py"
ENTRY_FIELDS = {"kind", "kr", "bloom"}
MAP_FIELDS = {"buckets", "legacy"}
# a bucket count read from anything but the snapshot itself is a layout's
NUM_BUCKETS_READ = re.compile(r"(\w+)\[\s*['\"]num_buckets['\"]\s*\]")


def _const(node) -> str | None:
    return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else None


def _violations(src: str, walks_maps: bool = False, links: bool = False) -> list[str]:
    """The rule breaks in ``src``; ``walks_maps``/``links``: the module
    may walk bucket maps / call ``os.link``."""
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Subscript):
            field = _const(node.slice)
            if field in ENTRY_FIELDS or (field in MAP_FIELDS and not walks_maps):
                out.append(f"line {node.lineno}: reads [{field!r}]")
        elif isinstance(node, ast.Call):
            fn = node.func
            if isinstance(fn, ast.Attribute) and node.args:
                field = _const(node.args[0])
                if (fn.attr in ("get", "pop", "setdefault") and field in ENTRY_FIELDS) or (
                    fn.attr in ("get", "pop") and field in MAP_FIELDS and not walks_maps
                ):
                    out.append(f"line {node.lineno}: .{fn.attr}({field!r})")
            if (
                not links
                and isinstance(fn, ast.Attribute)
                and fn.attr == "link"
                and isinstance(fn.value, ast.Name)
                and fn.value.id == "os"
            ):
                out.append(f"line {node.lineno}: os.link")
            name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
            if name == "bucket_of":
                seg = ast.get_source_segment(src, node) or ""
                for who in NUM_BUCKETS_READ.findall(seg):
                    if who != "snap":
                        out.append(f"line {node.lineno}: bucket_of over {who}['num_buckets']")
        elif isinstance(node, ast.Compare) and _const(node.left) in ENTRY_FIELDS and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
        ):
            out.append(f"line {node.lineno}: {_const(node.left)!r} in ...")
    return out


def _module_violations(rel: str, src: str) -> list[str]:
    return _violations(src, walks_maps=rel == TABLE, links=rel == TABLE)


def test_only_the_planner_reads_file_layout_fields():
    modules = {p.relative_to(PKG).as_posix(): p for p in sorted(PKG.rglob("*.py"))}
    assert PLANNER in modules and TABLE in modules, PKG
    found = {
        rel: v
        for rel, p in modules.items()
        if rel != PLANNER and (v := _module_violations(rel, p.read_text()))
    }
    assert not found, f"snapshot format or file-layout rules outside their modules: {found}"


def test_the_scan_sees_the_patterns_it_forbids():
    src = (
        "x = fe.get('kind') == 'delta'\n"
        "y = fe['kr']\n"
        "z = 'bloom' in fe\n"
        "b = bucket_of(keys, int(layout['num_buckets']))\n"
        "ok = bucket_of(keys, int(snap['num_buckets']))\n"
        "s = T.StructField('kind', T.StringType())\n"
        "n = len(snap['buckets'])\n"
        "for lay in snap.get('legacy') or []: pass\n"
        "snap.pop('legacy', None)\n"
        "os.link(tmp, final)\n"
        "ok2 = child_snapshot(snap, buckets={}, legacy=None)\n"
    )
    assert len(_violations(src)) == 8, _violations(src)
    # the snapshot writer may walk bucket maps and publish, never read
    # entry fields
    assert len(_module_violations(TABLE, src)) == 4, _module_violations(TABLE, src)
    assert _violations((PKG / PLANNER).read_text()), "the planner itself reads them"
