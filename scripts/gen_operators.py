#!/usr/bin/env python3
"""Generate OPERATORS.md: one row per declared query mapping it to its
`QuerySpec` declaration line (in an area module under
src/main/scala/graft/queries/), the operator objects its plan builder calls
(resolved to source files), the ScalaTest specs that exercise it, and its
family (name prefix). ContractSpec cross-checks the committed table's
query set against the live registry, so a stale table fails `sbt test`.

Usage: python3 scripts/gen_operators.py   (run from the repo root)
"""
import os
import re
from collections import OrderedDict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src/main/scala/graft")
QUERIES = os.path.join(MAIN, "queries")
TEST = os.path.join(ROOT, "src/test/scala/graft")

SPEC_RE = re.compile(r'QuerySpec\("([a-z][a-z0-9_]*)",')


def skip_string(src, i):
    """Index just past the string literal opening at src[i] (an optional
    interpolator prefix is already consumed); `${...}` blocks are skipped
    as code, so quotes nested in them do not end the string."""
    interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
    triple = src.startswith('"""', i)
    j = i + (3 if triple else 1)
    while True:
        if interp and src.startswith("${", j):
            j = skip_code(src, j + 2)
        elif triple and src.startswith('"""', j):
            while src.startswith('"', j + 3):  # a run of quotes ends on its last three
                j += 1
            return j + 3
        elif not triple and src[j] == "\\":
            j += 2
        elif not triple and src[j] == '"':
            return j + 1
        else:
            j += 1


def skip_code(src, i):
    """Index just past the bracket that closes the one at src[i - 1]."""
    depth = 0
    j = i
    while True:
        c = src[j]
        if src.startswith("//", j):
            j = src.index("\n", j)
        elif src.startswith("/*", j):
            j = src.index("*/", j) + 2
        elif c == '"':
            j = skip_string(src, j)
        elif c == "'" and src[j + 1] == "\\":
            j = src.index("'", j + 3) + 1
        elif c == "'" and src[j + 2:j + 3] == "'":
            j += 3
        elif c in "([{":
            depth += 1
            j += 1
        elif c in ")]}":
            if depth == 0:
                return j + 1
            depth -= 1
            j += 1
        else:
            j += 1


def builder_end(src, i):
    """End of the plan-builder argument of the QuerySpec whose name
    argument ends at src[i] (its comma): the next top-level comma."""
    j = i + 1
    while True:
        c = src[j]
        if c == ",":
            return j
        if c in "([{":
            j = skip_code(src, j + 1)
        elif c == '"':
            j = skip_string(src, j)
        elif src.startswith("//", j):
            j = src.index("\n", j)
        else:
            j += 1


# --- declared queries -------------------------------------------------------
queries = []  # (name, module file, line, builder text)
for f in sorted(os.listdir(QUERIES)):
    if not f.endswith(".scala"):
        continue
    src = open(os.path.join(QUERIES, f), encoding="utf-8").read()
    for m in SPEC_RE.finditer(src):
        line = src.count("\n", 0, m.start()) + 1
        queries.append((m.group(1), f, line, src[m.end():builder_end(src, m.end() - 1)]))

# --- object -> source file map ---------------------------------------------
obj_file = {}
for dirpath, _, files in os.walk(MAIN):
    if os.path.abspath(dirpath) == os.path.abspath(QUERIES):
        continue  # the registry's own modules are not operators
    for f in files:
        if not f.endswith(".scala"):
            continue
        p = os.path.join(dirpath, f)
        src = open(p, encoding="utf-8").read()
        rel = os.path.relpath(p, ROOT)
        for m in re.finditer(r"^(?:private\[\w+\] )?object (\w+)", src, re.M):
            obj_file[m.group(1)] = rel

OBJ_RE = re.compile(r"\b([A-Z][A-Za-z0-9]*)\.")
SKIP_OBJS = {"Seq", "Map", "Array", "Math", "String", "Int", "Long", "Window",
             "OutputMode", "StorageLevel", "DecimalType", "BigDecimal",
             "System", "Option", "Vector", "Row", "F", "Q64", "K",
             # fixture/oracle plumbing and the entry contract, not operators
             "Tables", "Fixtures", "DuckSql", "ColumnBridge", "SparkEntry"}


def operators_of(body):
    objs = OrderedDict()
    for m in OBJ_RE.finditer(body):
        o = m.group(1)
        if o in obj_file and o not in SKIP_OBJS:
            objs[o] = obj_file[o]
    return objs


# --- spec mentions ----------------------------------------------------------
spec_src = {}
for f in sorted(os.listdir(TEST)):
    if f.endswith(".scala"):
        spec_src[f[:-len(".scala")]] = open(os.path.join(TEST, f), encoding="utf-8").read()


def specs_of(name, ops):
    direct = [s for s, src in spec_src.items() if name in src]
    if direct:
        return direct
    via_op = [s for s in (f"{o}Spec" for o in ops) if s in spec_src]
    return via_op


# --- emit -------------------------------------------------------------------
rows = []
for name, module, line, body in queries:
    ops = operators_of(body)
    fam = name.split("_", 1)[0]
    op_cell = "; ".join(f"`{path}`" for path in
                        OrderedDict((v, None) for v in ops.values())) or f"`queries/{module}` (inline plan)"
    spec_cell = ", ".join(f"`{s}`" for s in specs_of(name, ops)) or "—"
    rows.append((fam, name, f"queries/{module}:{line}", op_cell, spec_cell))

out = []
out.append("# Operator index")
out.append("")
out.append(f"Generated by `scripts/gen_operators.py` from the live registry — "
           f"**{len(rows)} queries**, each declared once as a `QuerySpec` "
           f"(Spark plan beside its DuckDB oracle SQL) and hash-checked against "
           f"that oracle. ContractSpec fails `sbt test` if this table's query set "
           f"drifts from `SparkEntry.queries`. Registry paths are relative to "
           f"`src/main/scala/graft/`; line numbers are the declaration sites at "
           f"generation time.")
out.append("")
fam_order = OrderedDict()
for r in rows:
    fam_order.setdefault(r[0], []).append(r)
for fam, rs in sorted(fam_order.items()):
    out.append(f"## {fam} ({len(rs)})")
    out.append("")
    out.append("| query | registry | operator source | specs |")
    out.append("|---|---|---|---|")
    for _, name, where, op_cell, spec_cell in sorted(rs, key=lambda r: r[1]):
        out.append(f"| `{name}` | `{where}` | {op_cell} | {spec_cell} |")
    out.append("")

open(os.path.join(ROOT, "OPERATORS.md"), "w", encoding="utf-8").write("\n".join(out) + "\n")
print(f"wrote OPERATORS.md: {len(rows)} queries, {len(fam_order)} families")
