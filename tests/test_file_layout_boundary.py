"""The snapshot's file-layout rules live in ``lake/planner.py`` alone.

Every other ``lake`` module goes through the planner's helpers: none
reads a file entry's ``kind``, ``kr`` or ``bloom`` field, and none
hashes keys into a retired layout's buckets (``bucket_of`` with a
legacy layout's ``num_buckets``).  A second copy of one of these rules
is how a reader drifts from the others — the merge-on-read stale-row
bug was one.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import rocket_etl_spark.lake as lake

LAKE = Path(lake.__file__).parent
PLANNER = "planner.py"
ENTRY_FIELDS = {"kind", "kr", "bloom"}
# a bucket count read from anything but the snapshot itself is a layout's
NUM_BUCKETS_READ = re.compile(r"(\w+)\[\s*['\"]num_buckets['\"]\s*\]")


def _const(node) -> str | None:
    return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else None


def _violations(src: str) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Subscript) and _const(node.slice) in ENTRY_FIELDS:
            out.append(f"line {node.lineno}: reads [{_const(node.slice)!r}]")
        elif isinstance(node, ast.Call):
            fn = node.func
            if (
                isinstance(fn, ast.Attribute)
                and fn.attr in ("get", "pop", "setdefault")
                and node.args
                and _const(node.args[0]) in ENTRY_FIELDS
            ):
                out.append(f"line {node.lineno}: .{fn.attr}({_const(node.args[0])!r})")
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


def test_only_the_planner_reads_file_layout_fields():
    modules = sorted(p for p in LAKE.glob("*.py") if p.name != PLANNER)
    assert modules, LAKE
    found = {p.name: v for p in modules if (v := _violations(p.read_text()))}
    assert not found, f"file-layout rules outside lake/{PLANNER}: {found}"


def test_the_scan_sees_the_patterns_it_forbids():
    src = (
        "x = fe.get('kind') == 'delta'\n"
        "y = fe['kr']\n"
        "z = 'bloom' in fe\n"
        "b = bucket_of(keys, int(layout['num_buckets']))\n"
        "ok = bucket_of(keys, int(snap['num_buckets']))\n"
        "s = T.StructField('kind', T.StringType())\n"
    )
    assert len(_violations(src)) == 4, _violations(src)
    assert _violations((LAKE / PLANNER).read_text()), "the planner itself reads them"
