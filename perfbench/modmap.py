#!/usr/bin/env python3
"""Derive the id -> operator-module map from the engine source.

Each `Queries.all` id names a `val` of `object Queries`. An id calls a
module when its body, or the body of any `Queries` member it references
(transitively), contains `<Module>.` for one of MODULES. Ids that call
none form the `olap` workload; the rest form `pipeline`.

    python3 perfbench/modmap.py            # print the derived map
    python3 perfbench/modmap.py --write    # rewrite perfbench/ids.tsv,
                                           # keeping its `pass` column
"""
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
QUERIES = os.path.join(HERE, "..", "src", "main", "scala", "graft", "Queries.scala")
IDS_TSV = os.path.join(HERE, "ids.tsv")

MODULES = ["Dedup", "Similarity", "Graph", "Analytics", "Text", "Vectors",
           "Sampling", "Spectral", "Sketches", "RangeJoin", "Layout"]

_MEMBER = re.compile(
    r"^  (?:private |lazy |final |override )*(?:val|def) ([A-Za-z_]\w*)")


def _strip(code):
    """Drop comments and string literals, which name modules in prose."""
    code = re.sub(r"/\*.*?\*/", "", code, flags=re.S)
    code = re.sub(r"//[^\n]*", "", code)
    return re.sub(r'"(?:[^"\\\n]|\\.)*"', '""', code)


def _members(src):
    """Top-level members of object Queries (two-space indent) -> body."""
    bodies, name, buf = {}, None, []
    for line in src.split("\n"):
        m = _MEMBER.match(line)
        if m:
            if name:
                bodies[name] = "\n".join(buf)
            name, buf = m.group(1), [line]
        elif name:
            buf.append(line)
    if name:
        bodies[name] = "\n".join(buf)
    return {k: _strip(v) for k, v in bodies.items()}


def registry(src):
    """(id, member) pairs of `Queries.all`, in registration order."""
    start = src.index("val all: Seq[(String, Q)] = Seq(")
    return re.findall(r'^\s+"(q_\w+)" -> (q_\w+),', src[start:], re.M)


def module_map(queries_path=QUERIES):
    src = open(queries_path).read()
    bodies = _members(src)
    names = set(bodies) - {"all"}
    direct = {k: {m for m in MODULES if re.search(r"\b%s\s*\." % m, b)}
              for k, b in bodies.items()}
    refs = {k: (set(re.findall(r"\b[A-Za-z_]\w*\b", b)) & names) - {k}
            for k, b in bodies.items()}
    memo = {}

    def closure(k, stack=()):
        if k not in memo:
            found = set(direct[k])
            for r in refs[k]:
                if r not in stack:
                    found |= closure(r, stack + (k,))
            memo[k] = found
        return memo[k]

    return [(qid, sorted(closure(member))) for qid, member in registry(src)]


def read_ids(path=IDS_TSV):
    """ids.tsv rows: id -> (workload, modules, in_pass)."""
    out = {}
    with open(path) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            qid, workload, mods, in_pass = line.rstrip("\n").split("\t")
            out[qid] = (workload, [] if mods == "-" else mods.split(","),
                        in_pass == "1")
    return out


def write_ids(path=IDS_TSV):
    old = read_ids(path) if os.path.exists(path) else {}
    with open(path, "w") as f:
        f.write("# id\tworkload\tmodules\tpass (1 = in the measured pass)\n")
        for qid, mods in module_map():
            in_pass = old.get(qid, (None, None, False))[2]
            f.write("%s\t%s\t%s\t%d\n" % (qid, "pipeline" if mods else "olap",
                                          ",".join(mods) or "-", in_pass))


if __name__ == "__main__":
    if sys.argv[1:] == ["--write"]:
        write_ids()
    else:
        for qid, mods in module_map():
            print(qid, ",".join(mods) or "-")
