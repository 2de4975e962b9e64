#!/usr/bin/env python3
"""Generate the per-query coverage census table for COVERAGE.md.

For every entry in SparkEntry.queries it derives:
  - oracle status from the newest CORRECTNESS_r*.json (star = hash match,
    circle = rows-only by design, "new" = not yet driver-gated),
  - the graft implementation objects the query body references, resolved
    to src/main file paths,
  - the test suites whose files mention those objects (FooSpec heuristic).

Usage: python3 tools/gen_census.py  (writes the table to stdout)
The COVERAGE.md census section is produced by redirecting this output —
regenerate instead of hand-editing.
"""
import glob
import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = os.path.join(ROOT, "src/main/scala/graft/queries")
MAIN = os.path.join(ROOT, "src/main/scala")
TEST = os.path.join(ROOT, "src/test/scala")


def newest_correctness():
    files = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    return json.load(open(files[-1])) if files else {}


def query_blocks(src):
    """(name, body) for each `Query("name", (s, dir) =>` entry of a family
    file: the Spark body, up to the line that declares its oracle."""
    pat = re.compile(r'^    Query\("([a-z]\w+)", ', re.M)
    oracle = re.compile(r'^\s*(Sql\b|Fitted\(|RowsOnly\b)', re.M)
    return [(m.group(1), src[m.start():oracle.search(src, m.end()).start()])
            for m in pat.finditer(src)]


def object_files():
    """graft object/class name -> repo-relative defining file."""
    mapping = {}
    for path in glob.glob(os.path.join(MAIN, "**/*.scala"), recursive=True):
        text = open(path, encoding="utf-8").read()
        rel = os.path.relpath(path, ROOT)
        for m in re.finditer(r"^(?:object|class|case class) (\w+)", text, re.M):
            mapping.setdefault(m.group(1), rel)
    return mapping


def spec_index():
    """object name -> sorted list of spec class names that mention it."""
    idx = {}
    for path in glob.glob(os.path.join(TEST, "**/*Spec.scala"), recursive=True):
        spec = os.path.basename(path).replace(".scala", "")
        text = open(path, encoding="utf-8").read()
        for name in set(re.findall(r"\b([A-Z]\w+)\b", text)):
            idx.setdefault(name, set()).add(spec)
    return idx


def main():
    src = "".join(open(p, encoding="utf-8").read()
                  for p in sorted(glob.glob(os.path.join(QUERIES, "*.scala"))))
    correctness = newest_correctness()
    files = object_files()
    specs = spec_index()
    # objects too generic to be informative as "the implementation"
    noise = {"Tables", "SparkEntry", "Seq", "Set", "Map", "Array", "Window",
             "String", "Some", "None", "Config"}
    rows = []
    for name, body in query_blocks(src):
        refs = set(re.findall(r"graft\.[\w.]*?(\w+)\.\w+\(", body))
        refs |= set(re.findall(r"\b([A-Z]\w+)\.\w+\(", body))
        refs -= noise
        impl = sorted({files[r] for r in refs if r in files
                       and "/SparkEntry" not in files[r]
                       and "/Tables" not in files[r]})
        impl_s = "<br>".join(f"`{p}`" for p in impl) if impl else "`SparkEntry` (inline plan)"
        suites = sorted(set().union(*(specs.get(r, set()) for r in refs)) -
                        {"SparkEntrySpec", "PlanAuditSpec", "SparkSpec"})
        c = correctness.get(name)
        if c is None:
            status = "new (this round)"
        elif c.get("hash_match"):
            status = "★"
        elif c.get("err") == "no_oracle":
            status = "○ rows-only (documented seeded/MC)"
        else:
            status = "FAIL"
        spec_s = ", ".join(suites[:4]) if suites else "—"
        rows.append((name, status, impl_s, spec_s))
    print("| Query | Oracle | Implementation | Specs |")
    print("|---|---|---|---|")
    for name, status, impl, spec in sorted(rows):
        print(f"| `{name}` | {status} | {impl} | {spec} |")
    print()
    n_star = sum(1 for r in rows if r[1] == "★")
    n_new = sum(1 for r in rows if r[1].startswith("new"))
    n_circle = sum(1 for r in rows if r[1].startswith("○"))
    print(f"Census: {len(rows)} queries — {n_star} ★ hash-matched at the last "
          f"driver gate, {n_circle} ○ rows-only by design, {n_new} added since.")


if __name__ == "__main__":
    main()
